"""Density-based outlier scoring + equivalence/drift decision tools (r12g).

Three operators: the classic LOCAL OUTLIER FACTOR over embeddings (the
density-RATIO detector that finds points anomalous relative to their own
neighborhood, where the raw kNN-distance score emb_knn_outlier_score
cannot separate a sparse-but-uniform region from a true outlier), the
TOST equivalence test (the A/B decision "the variant is NOT worse by more
than the margin" — absence of significance is not equivalence), and a
QQ-decile drift comparison between the two largest sources (exact integer
order statistics, the distribution-shape companion to the 1-D Wasserstein
and PSI entries).

Determinism: LOF reuses the bounded SRP-bucket candidate contract
(emb_knn_outlier_score) with round-9 distances; reachability floors at an
exact binary 2^-20 so lrd stays under the round-9 fence ceiling in
duplicate-degenerate neighborhoods; every k-term mean is an exact decimal
sum; TOST and QQ are pure integer-moment / order-statistic arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from arangodb_java_parquet_spark.materialize import materialize
from arangodb_java_parquet_spark.operators.similarity import (
    SRP_BITS, dot, norm, srp_bucket)
from arangodb_java_parquet_spark.queries.common import (
    query, sql_cos, srp_bucket_sql, t)

# ---------------------------------------------------------------------------
# Local Outlier Factor (Breunig et al. 2000)
# ---------------------------------------------------------------------------

_LOF_K = 5
_LOF_TOP = 20
_LOF_CAND = 64  # per-bucket candidate cap (emb_knn_outlier_score contract)
# reachability floor: exact binary 2^-20 keeps lrd <= k * 2^20 / k = 2^20,
# under the round-9 magnitude ceiling, in degenerate zero-distance
# (duplicate-vector) neighborhoods; standard LOF implementations apply the
# same epsilon for the identical reason.
_LOF_EPS_NUM = 1
_LOF_EPS_DEN = 1 << 20

_LOF_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding,
         {srp_bucket_sql(SRP_BITS)} AS bucket
  FROM embeddings
),
cand AS (
  SELECT vec_id, embedding, bucket FROM (
    SELECT vec_id, embedding, bucket,
           ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY vec_id) AS crn
    FROM b
  ) WHERE crn <= {_LOF_CAND}
),
pairs AS (
  SELECT a.vec_id AS vid, c.vec_id AS nid,
         1e0 - {sql_cos('a.embedding', 'c.embedding')} AS dist
  FROM b a JOIN cand c ON a.bucket = c.bucket AND a.vec_id != c.vec_id
),
knn AS (
  SELECT vid, nid, dist FROM (
    SELECT vid, nid, dist,
           ROW_NUMBER() OVER (PARTITION BY vid
                              ORDER BY dist ASC, nid) AS rn
    FROM pairs
  ) WHERE rn <= {_LOF_K}
),
kdist AS (
  SELECT vid, MAX(dist) AS kd FROM knn
  GROUP BY vid HAVING COUNT(*) = {_LOF_K}
),
reach AS (
  SELECT k.vid, k.nid,
         GREATEST(o.kd, k.dist,
                  CAST({_LOF_EPS_NUM} AS DOUBLE) / {_LOF_EPS_DEN}) AS rd
  FROM knn k JOIN kdist o ON o.vid = k.nid
),
lrd AS (
  SELECT vid,
         ROUND(CAST({_LOF_K} AS DOUBLE)
               / CAST(SUM(CAST(ROUND(rd, 9) AS DECIMAL(30,9)))
                      AS DOUBLE), 9) AS lrd
  FROM reach GROUP BY vid HAVING COUNT(*) = {_LOF_K}
),
lof AS (
  SELECT k.vid,
         CAST(SUM(CAST(o.lrd AS DECIMAL(30,9))) AS DOUBLE)
           / {_LOF_K} / p.lrd AS lof
  FROM knn k
  JOIN lrd o ON o.vid = k.nid
  JOIN lrd p ON p.vid = k.vid
  GROUP BY k.vid, p.lrd HAVING COUNT(*) = {_LOF_K}
)
SELECT vid, lof, outlier_rank FROM (
  SELECT vid, lof,
         ROW_NUMBER() OVER (ORDER BY lof DESC, vid) AS outlier_rank
  FROM lof
) WHERE outlier_rank <= {_LOF_TOP}
"""


@query("emb_lof_outliers", _LOF_SQL)
def emb_lof_outliers(spark, sf_dir):
    """LOCAL OUTLIER FACTOR (Breunig et al., SIGMOD 2000): the density
    RATIO avg_o(lrd(o))/lrd(p) over p's k=5 nearest in-bucket
    neighbors — LOF ~ 1 means p sits at its neighborhood's density,
    LOF >> 1 means p is anomalous RELATIVE TO its own region, which a
    raw mean-kNN-distance score (emb_knn_outlier_score) cannot tell
    apart from a uniformly sparse region; the standard screen for
    mislabeled/OOD embeddings before contrastive training. Candidates
    come from the shared SRP-bucket cap-{_LOF_CAND} contract (no
    quadratic bucket joins); distances are round-9 cosine; the
    reachability floor is an exact binary 2^-20 so lrd is bounded and
    round-9-fenceable even in duplicate clusters; both k-term means
    are exact decimal sums, and every stage requires the full k
    neighborhood (HAVING COUNT = k, identically on both engines)."""
    e = t(spark, sf_dir, "embeddings")
    b = (e.select("vec_id", "embedding",
                  srp_bucket(F.col("embedding"), SRP_BITS).alias("bucket"))
         .withColumn("nrm", norm(F.col("embedding"))))
    wc = W.partitionBy("bucket").orderBy("vec_id")
    cand = (b.withColumn("crn", F.row_number().over(wc))
            .filter(F.col("crn") <= _LOF_CAND).drop("crn"))
    a = b.alias("a")
    c = (cand.withColumnRenamed("vec_id", "nid")
         .withColumnRenamed("embedding", "emb_b")
         .withColumnRenamed("nrm", "nrm_b").alias("c"))
    dist = F.lit(1.0) - F.round(
        dot(F.col("a.embedding"), F.col("c.emb_b"))
        / F.nullif(F.col("a.nrm") * F.col("c.nrm_b"), F.lit(0.0)), 9)
    pairs = (a.join(c, (F.col("a.bucket") == F.col("c.bucket"))
                    & (F.col("a.vec_id") != F.col("nid")))
             .select(F.col("a.vec_id").alias("vid"), "nid",
                     dist.alias("dist")))
    wr = W.partitionBy("vid").orderBy(F.asc("dist"), "nid")
    knn = (pairs.withColumn("rn", F.row_number().over(wr))
           .filter(F.col("rn") <= _LOF_K)
           .select("vid", "nid", "dist")
           .transform(materialize))  # feeds kdist + reach + lof
    kdist = (knn.groupBy("vid")
             .agg(F.max("dist").alias("kd"),
                  F.count(F.lit(1)).alias("nk"))
             .filter(F.col("nk") == _LOF_K).drop("nk"))
    reach = (knn.join(kdist.withColumnRenamed("vid", "nid"), "nid")
             .select("vid", "nid",
                     F.greatest(F.col("kd"), F.col("dist"),
                                F.lit(float(_LOF_EPS_NUM) / _LOF_EPS_DEN))
                     .alias("rd")))
    lrd = (reach.groupBy("vid")
           .agg(F.round(F.lit(float(_LOF_K))
                        / F.sum(F.round(F.col("rd"), 9)
                                .cast("decimal(30,9)")).cast("double"), 9)
                .alias("lrd"),
                F.count(F.lit(1)).alias("nk"))
           .filter(F.col("nk") == _LOF_K).drop("nk")
           .transform(materialize))  # joined twice below
    lof = (knn.join(lrd.withColumnRenamed("vid", "nid")
                    .withColumnRenamed("lrd", "lrd_o"), "nid")
           .join(lrd, "vid")
           .groupBy("vid", "lrd")
           .agg((F.sum(F.col("lrd_o").cast("decimal(30,9)"))
                 .cast("double") / _LOF_K / F.col("lrd")).alias("lof"),
                F.count(F.lit(1)).alias("nk"))
           .filter(F.col("nk") == _LOF_K)
           .select("vid", "lof"))
    shortlist = lof.orderBy(F.desc("lof"), "vid").limit(_LOF_TOP)
    wo = W.orderBy(F.desc("lof"), "vid")
    return shortlist.withColumn("outlier_rank", F.row_number().over(wo))


# ---------------------------------------------------------------------------
# TOST equivalence test: en vs non-en token counts
# ---------------------------------------------------------------------------

_TOST_SQL = """
WITH g AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS grp,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS x
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
         s1_1 / CAST(n1 AS DOUBLE) - s1_0 / CAST(n0 AS DOUBLE) AS diff,
         (s1_1 + s1_0) / CAST(n1 + n0 AS DOUBLE) / 20 AS margin,
         sqrt((s2_1 - s1_1 / CAST(n1 AS DOUBLE) * s1_1) / (n1 - 1) / n1
              + (s2_0 - s1_0 / CAST(n0 AS DOUBLE) * s1_0) / (n0 - 1) / n0)
           AS se
  FROM w
)
SELECT CAST(n1 AS BIGINT) AS n_en, CAST(n0 AS BIGINT) AS n_other,
       diff AS mean_diff, margin, se,
       (diff + margin) / se AS t_lower,
       (diff - margin) / se AS t_upper,
       ABS(diff) < margin AS point_within_margin
FROM st
"""


@query("eval_tost_equivalence", _TOST_SQL)
def eval_tost_equivalence(spark, sf_dir):
    """TOST EQUIVALENCE test (Schuirmann 1987, two one-sided tests):
    is the en vs non-en token-count difference INSIDE +-margin (5% of
    the grand mean)? Equivalence needs t_lower = (d+m)/se
    significantly > 0 AND t_upper = (d-m)/se significantly < 0 — the
    correct frame for "the new filter didn't change the corpus" /
    "the variant is not worse", where a plain t-test's non-rejection
    proves nothing. Moments are exact integer sums (one combinable
    aggregation, the Welch recipe); the margin is the integer-ratio
    grand mean / 20, so every output is straight-line IEEE on
    identical operands; t-critical values are left to the consumer as
    with the other test entries."""
    d = t(spark, sf_dir, "documents")
    g = d.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("grp"),
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("x"))
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
    diff = (F.col("s1_1") / F.col("n1").cast("double")
            - F.col("s1_0") / F.col("n0").cast("double"))
    margin = ((F.col("s1_1") + F.col("s1_0"))
              / (F.col("n1") + F.col("n0")).cast("double") / 20)
    se = F.sqrt(
        (F.col("s2_1") - F.col("s1_1") / F.col("n1").cast("double")
         * F.col("s1_1")) / (F.col("n1") - 1) / F.col("n1")
        + (F.col("s2_0") - F.col("s1_0") / F.col("n0").cast("double")
           * F.col("s1_0")) / (F.col("n0") - 1) / F.col("n0"))
    st = w.select("n1", "n0", diff.alias("diff"), margin.alias("margin"),
                  se.alias("se"))
    return st.select(
        F.col("n1").cast("bigint").alias("n_en"),
        F.col("n0").cast("bigint").alias("n_other"),
        F.col("diff").alias("mean_diff"), "margin", "se",
        ((F.col("diff") + F.col("margin")) / F.col("se")).alias("t_lower"),
        ((F.col("diff") - F.col("margin")) / F.col("se")).alias("t_upper"),
        (F.abs(F.col("diff")) < F.col("margin"))
        .alias("point_within_margin"))


# ---------------------------------------------------------------------------
# QQ-decile drift between the two largest sources
# ---------------------------------------------------------------------------

_QQ_SQL = """
WITH stot AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
),
top2 AS (
  SELECT source, n_docs,
         ROW_NUMBER() OVER (ORDER BY n_docs DESC, source) AS g
  FROM stot QUALIFY g <= 2
),
ranked AS (
  SELECT p.g, d.n_chars AS x, p.n_docs,
         ROW_NUMBER() OVER (PARTITION BY p.g ORDER BY d.n_chars, d.doc_id)
           AS i
  FROM documents d JOIN top2 p ON p.source = d.source
),
ks AS (SELECT UNNEST(range(1, 10)) AS dec),
qs AS (
  SELECT k.dec,
         CAST(MAX(CASE WHEN r.g = 1 THEN r.x END) AS BIGINT) AS q_src1,
         CAST(MAX(CASE WHEN r.g = 2 THEN r.x END) AS BIGINT) AS q_src2
  FROM ks k JOIN ranked r
    ON r.i = (r.n_docs - 1) * k.dec // 10 + 1
  GROUP BY k.dec
),
cr AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS np,
         CAST(SUM(q_src1) AS BIGINT) AS sa,
         CAST(SUM(q_src2) AS BIGINT) AS sb,
         CAST(SUM(q_src1 * q_src1) AS BIGINT) AS saa,
         CAST(SUM(q_src2 * q_src2) AS BIGINT) AS sbb,
         CAST(SUM(q_src1 * q_src2) AS BIGINT) AS sab
  FROM qs
)
SELECT q.dec AS decile, q.q_src1, q.q_src2,
       (c.np * c.sab - c.sa * c.sb)
         / NULLIF(sqrt(CAST(c.np * c.saa - c.sa * c.sa AS DOUBLE)
                       * (c.np * c.sbb - c.sb * c.sb)), 0) AS qq_corr
FROM qs q CROSS JOIN cr c
"""


@query("drift_qq_deciles", _QQ_SQL)
def drift_qq_deciles(spark, sf_dir):
    """QQ-DECILE drift comparison: the 9 interior decile order
    statistics of document length for the corpus's two largest
    sources, plus the correlation of the two quantile vectors — the
    distribution-SHAPE drift readout (PSI and Wasserstein give one
    number; the QQ table says WHERE the distributions diverge: a
    tail-only shift bends the top deciles, a location shift offsets
    all of them). Each decile is the exact ((n-1)k/10 + 1)-th order
    statistic — an INTEGER, no interpolation — from one
    row_number-ranked scan per source, and the QQ correlation is
    closed-form integer-moment arithmetic over the 9 pivoted pairs.
    No float reductions anywhere."""
    d = t(spark, sf_dir, "documents")
    stot = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    top2 = (stot.withColumn(
        "g", F.row_number().over(W.orderBy(F.desc("n_docs"), "source")))
        .filter(F.col("g") <= 2))
    ranked = (d.join(F.broadcast(top2), "source")
              .select("g", F.col("n_chars").alias("x"), "n_docs",
                      F.row_number().over(
                          W.partitionBy("g").orderBy("n_chars", "doc_id"))
                      .alias("i")))
    ks = spark.range(1, 10).select(F.col("id").alias("dec"))
    qs = (ks.join(ranked,
                  ranked["i"] == F.expr("(n_docs - 1) * dec div 10 + 1"))
          .groupBy("dec")
          .agg(F.max(F.when(F.col("g") == 1, F.col("x")))
               .cast("bigint").alias("q_src1"),
               F.max(F.when(F.col("g") == 2, F.col("x")))
               .cast("bigint").alias("q_src2")))
    cr = qs.agg(
        F.count(F.lit(1)).cast("bigint").alias("np"),
        F.sum("q_src1").cast("bigint").alias("sa"),
        F.sum("q_src2").cast("bigint").alias("sb"),
        F.sum(F.col("q_src1") * F.col("q_src1")).cast("bigint").alias("saa"),
        F.sum(F.col("q_src2") * F.col("q_src2")).cast("bigint").alias("sbb"),
        F.sum(F.col("q_src1") * F.col("q_src2")).cast("bigint").alias("sab"))
    corr = ((F.col("np") * F.col("sab") - F.col("sa") * F.col("sb"))
            / F.nullif(
                F.sqrt((F.col("np") * F.col("saa")
                        - F.col("sa") * F.col("sa")).cast("double")
                       * (F.col("np") * F.col("sbb")
                          - F.col("sb") * F.col("sb"))), F.lit(0.0)))
    return (qs.crossJoin(F.broadcast(cr))
            .select(F.col("dec").alias("decile"), "q_src1", "q_src2",
                    corr.alias("qq_corr")))
