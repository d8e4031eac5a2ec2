"""Deterministic resampling inference + structure-audit wave (r12i).

Three operators: an EXACT-style PERMUTATION test whose B=200 sign-flip
replicates come from md5 bits (the assumption-free significance machinery
— t-distributions optional — made bit-reproducible on any engine or
partitioning, the same trick as the A-ES sampler), the POWER-LAW degree
MLE on the capped LSH similarity graph (is the near-dup graph scale-free,
i.e. dominated by template hubs — the number that predicts whether
skew-capping is load-bearing), and a JOHNSON-LINDENSTRAUSS-style
distortion audit of a fixed 2->1 coordinate-pairing projection (how much
pairwise geometry survives halving the embedding dimension — the
measurement run before committing an ANN index to a cheaper dimension).

Determinism: the permutation statistic is a pure INTEGER sum under every
replicate (md5-derived signs, integer char-count differences); the MLE's
ln terms are round-9-fenced decimal sums; distortion ratios are round-9
doubles reduced by exact decimal means and exact min/max.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from arangodb_java_parquet_spark.materialize import materialize
from arangodb_java_parquet_spark.queries.common import query, t

# ---------------------------------------------------------------------------
# md5 sign-flip permutation test: are word lengths front-loaded?
# ---------------------------------------------------------------------------

_PERM_B = 200

_PERM_SQL = f"""
WITH arrs AS (
  SELECT doc_id, string_split(text, ' ') AS l,
         len(string_split(text, ' ')) AS n
  FROM documents
),
d AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(l[1 : n // 2], w -> length(w)))
              AS BIGINT)
         - CAST(list_sum(list_transform(l[n // 2 + 1 : n],
                                        w -> length(w))) AS BIGINT) AS di
  FROM arrs WHERE n >= 2
),
obs AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(di) AS BIGINT) AS t_obs
  FROM d
),
reps AS (SELECT UNNEST(range(1, {_PERM_B} + 1)) AS b),
flips AS (
  SELECT r.b,
         CAST(SUM(CASE WHEN substring(md5(CAST(r.b AS VARCHAR) || ':'
                                      || CAST(d.doc_id AS VARCHAR)), 1, 1)
                       IN ('8','9','a','b','c','d','e','f')
                  THEN d.di ELSE -d.di END) AS BIGINT) AS t_b
  FROM d CROSS JOIN reps r
  GROUP BY r.b
),
cnt AS (
  SELECT CAST(SUM(CASE WHEN ABS(f.t_b) >= ABS(o.t_obs)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
  FROM flips f CROSS JOIN obs o
)
SELECT o.n_docs, o.t_obs, c.n_extreme,
       (1 + c.n_extreme) / CAST({_PERM_B} + 1 AS DOUBLE) AS p_value
FROM obs o CROSS JOIN cnt c
"""


@query("eval_permutation_signflip", _PERM_SQL)
def eval_permutation_signflip(spark, sf_dir):
    """SIGN-FLIP PERMUTATION test (Fisher randomization): is character
    mass front-loaded within documents? The paired difference d_i =
    chars(first half) - chars(second half) is tested against B=200
    sign-flip replicates whose signs come from one md5 bit per
    (replicate, doc) — the distribution-free significance machinery
    (no normality, no t-table) made BIT-REPRODUCIBLE: every T_b is a
    pure integer sum, identical on any engine, partitioning, or rerun,
    unlike RNG-based permutation. p = (1 + #extreme)/(B+1) is the
    standard add-one unbiased estimate, an exact rational. The
    replicate fan-out is one broadcast range cross join + a combinable
    groupBy — O(B n) rows scanned once, the distributed-permutation
    shape that scales to any corpus."""
    d0 = t(spark, sf_dir, "documents")
    arr = F.split(F.col("text"), " ")
    arrs = d0.select("doc_id", arr.alias("l"), F.size(arr).alias("n"))
    h = F.expr("n div 2")
    chars = ("CAST(aggregate({part}, 0L, (acc, w) -> acc + length(w))"
             " AS BIGINT)")
    d = (arrs.filter(F.col("n") >= 2)
         .select("doc_id",
                 (F.expr(chars.format(part="slice(l, 1, n div 2)"))
                  - F.expr(chars.format(
                      part="slice(l, n div 2 + 1, n - n div 2)")))
                 .alias("di"))
         .transform(materialize))  # feeds obs + the B-replicate scan
    obs = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("di").cast("bigint").alias("t_obs"))
    reps = spark.range(1, _PERM_B + 1).select(F.col("id").alias("b"))
    sign_bit = F.substring(
        F.md5(F.concat(F.col("b").cast("string"), F.lit(":"),
                       F.col("doc_id").cast("string"))), 1, 1)
    flips = (d.crossJoin(F.broadcast(reps))
             .groupBy("b")
             .agg(F.sum(F.when(sign_bit.isin(list("89abcdef")),
                               F.col("di")).otherwise(-F.col("di")))
                  .cast("bigint").alias("t_b")))
    cnt = (flips.crossJoin(F.broadcast(obs))
           .agg(F.sum(F.when(F.abs(F.col("t_b")) >= F.abs(F.col("t_obs")),
                             1).otherwise(0)).cast("bigint")
                .alias("n_extreme")))
    return (obs.crossJoin(F.broadcast(cnt))
            .select("n_docs", "t_obs", "n_extreme",
                    ((1 + F.col("n_extreme"))
                     / F.lit(float(_PERM_B + 1))).alias("p_value")))


# ---------------------------------------------------------------------------
# power-law degree MLE on the capped LSH similarity graph
# ---------------------------------------------------------------------------

_PL_DMIN = 2

_PL_SQL_TAIL = f""",
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS dg
  FROM (SELECT doc_a AS node FROM e UNION ALL SELECT doc_b FROM e)
  GROUP BY node
),
tail AS (SELECT dg FROM deg WHERE dg >= {_PL_DMIN}),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_tail,
         CAST(SUM(CAST(ROUND(ln(dg / CAST({_PL_DMIN} AS DOUBLE)), 9)
                       AS DECIMAL(30,9))) AS DOUBLE) AS sum_ln
  FROM tail
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
       n_tail, CAST({_PL_DMIN} AS BIGINT) AS d_min,
       1 + n_tail / NULLIF(sum_ln, 0) AS alpha_mle,
       (n_tail / NULLIF(sum_ln, 0)) / sqrt(CAST(n_tail AS DOUBLE))
         AS alpha_se
FROM s
"""


def _pl_sql() -> str:
    from arangodb_java_parquet_spark.queries.text_pipeline import (
        _MINHASH_SIG_SQL, capped_pairs_cte_sql)
    return _MINHASH_SIG_SQL + capped_pairs_cte_sql(32, out="e") \
        + _PL_SQL_TAIL


@query("graph_powerlaw_alpha", _pl_sql())
def graph_powerlaw_alpha(spark, sf_dir):
    """POWER-LAW degree exponent by the continuous MLE (Clauset, Shalizi
    & Newman 2009): alpha = 1 + n / sum ln(d_i/d_min) over the degree
    tail d >= {_PL_DMIN} of the skew-capped LSH similarity graph, with
    the standard error (alpha-1)/sqrt(n). A small alpha (~2) means the
    near-dup graph is hub-dominated — boilerplate templates connect
    everything, and the skew cap is load-bearing; alpha > 3 means the
    tail is benign. This is the one-number justification for the
    capped-candidate contract that every pair-producing operator in
    this repo rides. Degrees are exact integers; each ln term is
    round-9 fenced and decimal-summed; the MLE is one IEEE expression
    with a NULLIF guard (a graph whose whole tail sits at d_min has an
    undefined exponent)."""
    from arangodb_java_parquet_spark.operators.dedup import (
        char_shingles, lsh_candidate_pairs_capped, minhash_signatures)
    d = t(spark, sf_dir, "documents")
    sh = char_shingles(d)
    e = (lsh_candidate_pairs_capped(minhash_signatures(sh), max_bucket=32)
         .select("doc_a", "doc_b").transform(materialize))
    deg = (e.select(F.col("doc_a").alias("node"))
           .unionAll(e.select("doc_b"))
           .groupBy("node")
           .agg(F.count(F.lit(1)).cast("bigint").alias("dg")))
    nn = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    s = (deg.filter(F.col("dg") >= _PL_DMIN)
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_tail"),
              F.sum(F.round(F.log(F.col("dg")
                                  / F.lit(float(_PL_DMIN))), 9)
                    .cast("decimal(30,9)")).cast("double")
              .alias("sum_ln")))
    ratio = F.col("n_tail") / F.nullif(F.col("sum_ln"), F.lit(0.0))
    return (nn.crossJoin(F.broadcast(s))
            .select("n_nodes", "n_tail",
                    F.lit(_PL_DMIN).cast("bigint").alias("d_min"),
                    (1 + ratio).alias("alpha_mle"),
                    (ratio / F.sqrt(F.col("n_tail").cast("double")))
                    .alias("alpha_se")))


# ---------------------------------------------------------------------------
# JL-style projection distortion audit (64 -> 32 dims by pairing)
# ---------------------------------------------------------------------------

_JL_UNIVERSE = 80  # bounded pair set: 80*79/2 pairs

_JL_SQL = f"""
WITH u AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_JL_UNIVERSE}
),
pairs AS (
  SELECT a.vec_id AS ida, b.vec_id AS idb,
         list_sum(list_transform(range(1, 65),
           i -> (a.embedding[i]::DOUBLE - b.embedding[i]::DOUBLE)
              * (a.embedding[i]::DOUBLE - b.embedding[i]::DOUBLE)))
           AS d_full,
         list_sum(list_transform(range(1, 33),
           j -> ((a.embedding[2*j-1]::DOUBLE + a.embedding[2*j]::DOUBLE)
               - (b.embedding[2*j-1]::DOUBLE + b.embedding[2*j]::DOUBLE))
              * ((a.embedding[2*j-1]::DOUBLE + a.embedding[2*j]::DOUBLE)
               - (b.embedding[2*j-1]::DOUBLE + b.embedding[2*j]::DOUBLE))
              / 2)) AS d_low
  FROM u a JOIN u b ON b.vec_id > a.vec_id
),
r AS (
  SELECT ROUND(d_low / NULLIF(d_full, 0), 9) AS ratio FROM pairs
  WHERE d_full > 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CAST(ratio AS DECIMAL(30,9))) AS DOUBLE) / COUNT(*)
         AS mean_ratio,
       MIN(ratio) AS min_ratio, MAX(ratio) AS max_ratio,
       CAST(SUM(CASE WHEN ratio >= 0.8 AND ratio <= 1.2
                     THEN 1 ELSE 0 END) AS BIGINT)
         / CAST(COUNT(*) AS DOUBLE) AS frac_within_20pct
FROM r
"""


@query("emb_jl_distortion", _JL_SQL)
def emb_jl_distortion(spark, sf_dir):
    """JOHNSON-LINDENSTRAUSS-style DISTORTION AUDIT of a fixed 64->32
    projection (adjacent-coordinate pairing y_j = (v_2j-1 + v_2j)/
    sqrt(2), an orthonormal-rows projection — deterministic where a
    JL matrix is random): the distribution of squared-distance ratios
    d_low^2/d_full^2 over all pairs of a bounded audit universe. Mean
    near 1 with a tight spread certifies that ANN indexing / clustering
    can run at half the dimension (half the memory bandwidth — at
    100 TB of vectors this is the decision that halves the serving
    fleet); a long left tail names the pairs whose geometry collapses.
    Distances are the shared HOF dot recipe; the /2 normalization is
    exact binary; ratios are round-9 with exact decimal mean and exact
    min/max; pair count is bounded by the fixed universe, never
    corpus-quadratic."""
    e = t(spark, sf_dir, "embeddings")
    u = (e.filter(F.col("vec_id") < _JL_UNIVERSE)
         .select("vec_id", "embedding"))
    a = u.select(F.col("vec_id").alias("ida"),
                 F.col("embedding").alias("va"))
    b = u.select(F.col("vec_id").alias("idb"),
                 F.col("embedding").alias("vb"))
    diff = F.zip_with(F.col("va"), F.col("vb"),
                      lambda x, y: x.cast("double") - y.cast("double"))
    d_full = F.aggregate(diff, F.lit(0.0), lambda acc, v: acc + v * v)
    low = F.transform(
        F.sequence(F.lit(1), F.lit(32)),
        lambda j: ((F.element_at(F.col("va"), (2 * j - 1).cast("int"))
                    .cast("double")
                    + F.element_at(F.col("va"), (2 * j).cast("int"))
                    .cast("double"))
                   - (F.element_at(F.col("vb"), (2 * j - 1).cast("int"))
                      .cast("double")
                      + F.element_at(F.col("vb"), (2 * j).cast("int"))
                      .cast("double"))))
    d_low = F.aggregate(low, F.lit(0.0), lambda acc, v: acc + v * v / 2)
    pairs = (a.join(b, F.col("idb") > F.col("ida"))
             .select(d_full.alias("d_full"), d_low.alias("d_low")))
    r = (pairs.filter(F.col("d_full") > 0)
         .select(F.round(F.col("d_low")
                         / F.nullif(F.col("d_full"), F.lit(0.0)), 9)
                 .alias("ratio")))
    return r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        (F.sum(F.col("ratio").cast("decimal(30,9)")).cast("double")
         / F.count(F.lit(1))).alias("mean_ratio"),
        F.min("ratio").alias("min_ratio"),
        F.max("ratio").alias("max_ratio"),
        (F.sum(F.when((F.col("ratio") >= 0.8) & (F.col("ratio") <= 1.2),
                      1).otherwise(0)).cast("bigint")
         / F.count(F.lit(1)).cast("double")).alias("frac_within_20pct"))
