"""Training-data plumbing at cluster scale: deterministic global shuffle
into shards, padding-waste analysis for length-bucketed batching,
incremental (new-batch vs corpus) dedup, neighbor-Jaccard link prediction
over the similarity graph, and robust (median/IQR) feature scaling.

Each operator is the Spark-first shape of something a 100 TB pipeline runs
daily; every entry carries a full DuckDB value oracle per the repo's
determinism rules (md5-only hashing, decimal-exact sums, round-9 on
derived ratios, unique window tiebreaks).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from arangodb_java_parquet_spark.materialize import materialize
from arangodb_java_parquet_spark.operators.dedup import (
    spread, symmetric_edges)
from arangodb_java_parquet_spark.queries.common import (
    exact_percentiles, query, t)

# ---------------------------------------------------------------------------
# deterministic global shuffle -> shard files
# ---------------------------------------------------------------------------

_SHUF_SHARDS = 8


@query("data_shuffle_shards", f"""
WITH keyed AS (
  SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS k FROM documents
),
sharded AS (
  SELECT doc_id, source, k,
         CAST(instr('0123456789abcdef', substring(k, 1, 1)) - 1
              AS BIGINT) % {_SHUF_SHARDS} AS shard
  FROM keyed
)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k, doc_id)
            AS BIGINT) AS pos_in_shard
FROM sharded
""")
def data_shuffle_shards(spark, sf_dir):
    """Deterministic GLOBAL SHUFFLE into training shards — the step that
    breaks source/time locality before sequence packing. Shard = first
    hex digit of md5(doc_id) mod n_shards (uniform, seedless,
    reproducible across engines and reruns); position within a shard =
    rank of the md5 key. Scale: this is the embarrassingly-parallel
    formulation — ONE hash-partition shuffle on `shard` and a per-shard
    sort, never a global ORDER BY across the corpus (the naive
    row_number-over-everything plan collapses 100 TB onto one task).
    The md5 key makes within-shard order pseudorandom, so shard files
    are ready to stream as training batches."""
    d = t(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("k"))
    sharded = keyed.withColumn(
        "shard",
        (F.conv(F.substring("k", 1, 1), 16, 10).cast("bigint")
         % _SHUF_SHARDS))
    w = W.partitionBy("shard").orderBy("k", "doc_id")
    return sharded.select(
        "doc_id", "shard",
        F.row_number().over(w).cast("bigint").alias("pos_in_shard"))


# ---------------------------------------------------------------------------
# padding waste per length bucket (batch-scheduling analysis)
# ---------------------------------------------------------------------------

_BUCKET_W = 64


@query("pack_length_buckets", f"""
WITH sized AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
),
bucketed AS (
  SELECT doc_id, n_tokens,
         CAST(((n_tokens + {_BUCKET_W} - 1) // {_BUCKET_W}) * {_BUCKET_W}
              AS BIGINT) AS bucket_len
  FROM sized
)
SELECT bucket_len,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS real_tokens,
       CAST(bucket_len * COUNT(*) - SUM(n_tokens) AS BIGINT) AS pad_tokens,
       ROUND(CAST(SUM(n_tokens) AS DOUBLE)
             / (bucket_len * COUNT(*)), 9) AS fill_ratio
FROM bucketed GROUP BY bucket_len
""")
def pack_length_buckets(spark, sf_dir):
    """PADDING-WASTE profile for length-bucketed batching: round each
    document's token count up to the next {_BUCKET_W}-token bucket and
    report, per bucket, how many tokens are real vs padding and the
    fill ratio — the table that decides bucket boundaries (or switches
    the pipeline to sequence packing) before an expensive training run.
    One map-side-combinable aggregation over a token-count projection;
    no shuffle beyond the bucket rollup. Complements
    pack_token_sequences (which eliminates the waste this measures)."""
    d = t(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    bucketed = d.select(
        n_tok.alias("n_tokens"),
        (F.ceil(n_tok / _BUCKET_W) * _BUCKET_W).cast("bigint")
        .alias("bucket_len"))
    return (bucketed.groupBy("bucket_len")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").cast("bigint").alias("real_tokens"),
                 (F.first("bucket_len") * F.count(F.lit(1))
                  - F.sum("n_tokens")).cast("bigint").alias("pad_tokens"),
                 F.round(F.sum("n_tokens").cast("double")
                         / (F.first("bucket_len") * F.count(F.lit(1))), 9)
                 .alias("fill_ratio")))


# ---------------------------------------------------------------------------
# incremental dedup: new batch vs existing corpus
# ---------------------------------------------------------------------------

_INC_SPLIT = 400  # doc_id >= split = "newly crawled batch"


@query("dedup_incremental_batch", f"""
WITH fp AS (
  SELECT doc_id, source,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
  FROM documents
),
corpus AS (SELECT f FROM fp WHERE doc_id < {_INC_SPLIT}),
batch AS (SELECT doc_id, source, f FROM fp WHERE doc_id >= {_INC_SPLIT})
SELECT b.source,
       COUNT(*) AS n_new_docs,
       CAST(SUM(CASE WHEN c.f IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_of_corpus,
       ROUND(SUM(CASE WHEN c.f IS NOT NULL THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 9) AS dup_rate
FROM batch b LEFT JOIN (SELECT DISTINCT f FROM corpus) c ON c.f = b.f
GROUP BY b.source
""")
def dedup_incremental_batch(spark, sf_dir):
    """INCREMENTAL dedup — the production shape: a newly crawled batch is
    checked against the EXISTING corpus's fingerprint index instead of
    re-deduplicating the world. Normalized-text md5 fingerprints
    (whitespace-collapsed, trimmed, lowercased — the dedup_exact
    discipline), distinct corpus index, left join from the batch, and a
    per-source dup-rate report. Scale: the corpus side is (fingerprint)
    only — at 100 TB that index is a fraction of corpus bytes, stays
    partitioned on the join key, and each daily batch joins against it
    without touching document text."""
    d = t(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id", "source",
        F.md5(F.lower(F.trim(
            F.regexp_replace("text", r"\s+", " ")))).alias("f"))
    corpus = (fp.filter(F.col("doc_id") < _INC_SPLIT)
              .select("f").distinct())
    batch = fp.filter(F.col("doc_id") >= _INC_SPLIT)
    j = batch.join(corpus.withColumnRenamed("f", "cf"),
                   batch.f == F.col("cf"), "left")
    return (j.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_new_docs"),
                 F.sum(F.when(F.col("cf").isNotNull(), 1).otherwise(0))
                 .cast("bigint").alias("n_dup_of_corpus"),
                 F.round(
                     F.sum(F.when(F.col("cf").isNotNull(), 1).otherwise(0))
                     / F.count(F.lit(1)).cast("double"), 9)
                 .alias("dup_rate")))


# ---------------------------------------------------------------------------
# neighbor-Jaccard link prediction over the LSH similarity graph
# ---------------------------------------------------------------------------


def _lp_sql() -> str:
    from arangodb_java_parquet_spark.queries.text_pipeline import (
        _MINHASH_SIG_SQL, lsh_pairs_cte_sql)
    return _MINHASH_SIG_SQL + lsh_pairs_cte_sql("cand") + """,
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM cand
  UNION ALL SELECT doc_b, doc_a FROM cand
),
deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src),
two_hop AS (
  SELECT e1.src AS a, e2.dst AS c, COUNT(*) AS common
  FROM edges e1 JOIN edges e2
    ON e2.src = e1.dst AND e1.src < e2.dst
  GROUP BY 1, 2
),
nonadj AS (
  SELECT t.a, t.c, t.common
  FROM two_hop t LEFT JOIN cand x ON x.doc_a = t.a AND x.doc_b = t.c
  WHERE x.doc_a IS NULL
)
SELECT n.a AS doc_a, n.c AS doc_b,
       CAST(n.common AS BIGINT) AS common_neighbors,
       ROUND(n.common / CAST(da.d + dc.d - n.common AS DOUBLE), 9)
         AS jaccard_score
FROM nonadj n
JOIN deg da ON da.node = n.a
JOIN deg dc ON dc.node = n.c
WHERE n.common >= 1
"""


@query("graph_link_prediction_jaccard", _lp_sql())
def graph_link_prediction_jaccard(spark, sf_dir):
    """LINK PREDICTION on the LSH similarity graph: for node pairs NOT
    directly connected, score = Jaccard of their neighborhoods
    (common / (deg_a + deg_b - common)) — the classic structural
    predictor of missing near-duplicate relations (docs similar to the
    same neighbors that LSH banding happened to miss). Relational shape:
    the two-hop self-join on the edge list yields common-neighbor
    counts, an anti-join removes existing edges, degree table joins
    supply the denominator — each stage a bounded equi-join, never
    all-pairs. Scale: candidate edges come from LSH (E ~ corpus size,
    not n^2); the two-hop join is the standard triangle-style
    edge-partition workload."""
    from arangodb_java_parquet_spark.operators.dedup import (
        char_shingles, lsh_candidate_pairs, minhash_signatures)
    d = t(spark, sf_dir, "documents")
    sh = char_shingles(d)
    cand = (lsh_candidate_pairs(minhash_signatures(sh))
            .transform(materialize))  # feeds edges + the anti-join
    edges = (symmetric_edges(cand))
    deg = edges.groupBy(F.col("src").alias("node")) \
        .agg(F.count(F.lit(1)).alias("d"))
    e1 = edges.select(F.col("src").alias("a"), F.col("dst").alias("m"))
    e2 = edges.select(F.col("src").alias("m"), F.col("dst").alias("c"))
    two_hop = (e1.join(e2, "m")
               .filter(F.col("a") < F.col("c"))
               .groupBy("a", "c")
               .agg(F.count(F.lit(1)).alias("common")))
    nonadj = two_hop.join(
        cand, (cand.doc_a == two_hop.a) & (cand.doc_b == two_hop.c),
        "left_anti")
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    dc = deg.select(F.col("node").alias("c"), F.col("d").alias("dc"))
    return (nonadj.filter(F.col("common") >= 1)
            .join(da, "a").join(dc, "c")
            .select(F.col("a").alias("doc_a"), F.col("c").alias("doc_b"),
                    F.col("common").cast("bigint")
                    .alias("common_neighbors"),
                    F.round(F.col("common")
                            / (F.col("da") + F.col("dc")
                               - F.col("common")).cast("double"), 9)
                    .alias("jaccard_score")))


# ---------------------------------------------------------------------------
# robust (median / IQR) feature scaling
# ---------------------------------------------------------------------------


@query("robust_scale_features", """
WITH stats AS (
  SELECT o_orderpriority,
         ROUND(quantile_cont(o_totalprice, 0.5), 9) AS med,
         ROUND(quantile_cont(o_totalprice, 0.75)
               - quantile_cont(o_totalprice, 0.25), 9) AS iqr
  FROM orders GROUP BY o_orderpriority
)
SELECT o.o_orderkey, o.o_orderpriority,
       s.med, s.iqr,
       ROUND((o.o_totalprice - s.med) / NULLIF(s.iqr, 0), 9) AS scaled
FROM orders o JOIN stats s USING (o_orderpriority)
WHERE o.o_orderkey < 2000
""")
def robust_scale_features(spark, sf_dir):
    """ROBUST SCALING — (x - median) / IQR per group — the outlier-proof
    alternative to z-scoring for feature columns with heavy tails
    (standardize-then-clip pipelines; emb_zscore's tabular sibling).
    Group stats are one exact-percentile aggregation (bounded groups,
    broadcast back); the scaled projection is map-side. Round-9 fences
    on the interpolated percentiles and the derived ratio per the
    cross-engine rules. Degenerate groups (IQR = 0) yield NULL on both
    engines via nullif — Spark's non-ANSI /0 is NULL but DuckDB's is
    inf, so the guard is required for cross-engine parity."""
    o = t(spark, sf_dir, "orders")
    # r16: the exact_percentiles ranked pass was TRIED here and measured
    # consistently ~1.5x SLOWER isolated (alternating A/B, NEW 2.63/2.85
    # vs OLD 1.85/1.50) — unlike winsorize/boxplot there is no duplicate
    # percentile lineage to offset the ranked pass's exchanges, and the
    # grouped builtin distributes its per-group buffers across the group
    # reducers (the single-reducer §5 risk is the UNGROUPED corpus-scale
    # case). Reverted; kept the builtin.
    stats = (o.groupBy("o_orderpriority")
             .agg(F.round(F.percentile("o_totalprice", F.lit(0.5)), 9)
                  .alias("med"),
                  F.round(F.percentile("o_totalprice", F.lit(0.75))
                          - F.percentile("o_totalprice", F.lit(0.25)), 9)
                  .alias("iqr")))
    return (o.filter(F.col("o_orderkey") < 2000)
            .join(F.broadcast(stats), "o_orderpriority")
            .select("o_orderkey", "o_orderpriority", "med", "iqr",
                    F.round((F.col("o_totalprice") - F.col("med"))
                            / F.nullif(F.col("iqr"), F.lit(0.0)), 9)
                    .alias("scaled")))


# ---------------------------------------------------------------------------
# EWMA forecast over the daily revenue series
# ---------------------------------------------------------------------------

_EWMA_ALPHA = 0.3  # decay: weight (1-alpha)^(age in days)


@query("forecast_ewma_daily", f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         {{dsum}} AS rev
  FROM orders GROUP BY 1
),
idx AS (
  SELECT day, rev,
         ROW_NUMBER() OVER (ORDER BY day) AS t,
         COUNT(*) OVER () AS n
  FROM daily
),
weighted AS (
  SELECT n,
         CAST(ROUND(pow({1 - _EWMA_ALPHA}, n - t) * rev, 6)
              AS DECIMAL(30,6)) AS wy,
         CAST(ROUND(pow({1 - _EWMA_ALPHA}, n - t), 9)
              AS DECIMAL(20,9)) AS w
  FROM idx
)
SELECT CAST(MAX(n) AS BIGINT) AS n_days,
       CAST(SUM(wy) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS ewma_forecast
FROM weighted
""".format(dsum="CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE)"))
def forecast_ewma_daily(spark, sf_dir):
    """EWMA one-step FORECAST of daily revenue (pandas ``ewm
    adjust=True`` semantics): geometric weights (1-a)^age over the daily
    decimal-exact rollup, normalized by the weight sum — the baseline
    every anomaly monitor compares against. Determinism: pow() is
    transcendental, so each weight and each weighted term is round-9/6
    fenced into an exact decimal BEFORE summation (order-free), and the
    final division of two exact sums is IEEE-identical. Scale: the daily
    rollup is map-side combinable; the weighting runs over a
    report-sized series (one window for t)."""
    o = t(spark, sf_dir, "orders")
    from arangodb_java_parquet_spark.queries.common import dsum
    daily = (o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
             .agg(dsum("o_totalprice").alias("rev")))
    wspec = W.orderBy("day")
    idx = daily.select(
        "rev",
        F.row_number().over(wspec).alias("t"),
        F.count(F.lit(1)).over(
            W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        .alias("n"))
    decay = F.lit(1 - _EWMA_ALPHA)
    weighted = idx.select(
        "n",
        F.round(F.pow(decay, F.col("n") - F.col("t")) * F.col("rev"), 6)
        .cast("decimal(30,6)").alias("wy"),
        F.round(F.pow(decay, F.col("n") - F.col("t")), 9)
        .cast("decimal(20,9)").alias("w"))
    return weighted.agg(
        F.max("n").cast("bigint").alias("n_days"),
        (F.sum("wy").cast("double") / F.sum("w").cast("double"))
        .alias("ewma_forecast"))


# ---------------------------------------------------------------------------
# zone-map (min/max block stats) pruning effectiveness report
# ---------------------------------------------------------------------------

_ZM_BLOCK = 500
_ZM_LO, _ZM_HI = 100000.0, 150000.0


@query("zonemap_pruning_report", f"""
WITH nat AS (
  SELECT 'natural' AS layout, o_totalprice,
         (ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1) // {_ZM_BLOCK} AS blk
  FROM orders
),
clustered AS (
  SELECT 'clustered' AS layout, o_totalprice,
         (ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) - 1)
           // {_ZM_BLOCK} AS blk
  FROM orders
),
blocks AS (
  SELECT layout, blk, MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
  FROM (SELECT * FROM nat UNION ALL SELECT * FROM clustered)
  GROUP BY layout, blk
)
SELECT layout,
       COUNT(*) AS n_blocks,
       CAST(SUM(CASE WHEN hi < {_ZM_LO} OR lo > {_ZM_HI}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_skippable,
       ROUND(SUM(CASE WHEN hi < {_ZM_LO} OR lo > {_ZM_HI}
                      THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 9) AS skip_ratio
FROM blocks GROUP BY layout
""")
def zonemap_pruning_report(spark, sf_dir):
    """ZONE-MAP effectiveness report — the data-layout decision quantified:
    split the table into fixed-size blocks under (a) its natural key
    order and (b) clustered order on the filter column, compute each
    block's min/max (exactly the stats parquet row groups carry), and
    report what fraction of blocks a range predicate could SKIP under
    each layout. The clustered layout's skip_ratio is the measured
    benefit of sort-before-write at ingest — at 100 TB this table is
    the difference between scanning 2% and 98% of row groups. Window
    ranks use unique tiebreaks; block stats are exact."""
    o = t(spark, sf_dir, "orders")

    def blocks(layout, order_cols):
        w = W.orderBy(*order_cols)
        return (o.select(
            F.lit(layout).alias("layout"), "o_totalprice",
            ((F.row_number().over(w) - 1) / _ZM_BLOCK).cast("long")
            .alias("blk")))

    b = blocks("natural", ["o_orderkey"]).unionAll(
        blocks("clustered", ["o_totalprice", "o_orderkey"]))
    stats = (b.groupBy("layout", "blk")
             .agg(F.min("o_totalprice").alias("lo"),
                  F.max("o_totalprice").alias("hi")))
    skippable = F.when((F.col("hi") < _ZM_LO) | (F.col("lo") > _ZM_HI), 1) \
        .otherwise(0)
    return (stats.groupBy("layout")
            .agg(F.count(F.lit(1)).alias("n_blocks"),
                 F.sum(skippable).cast("bigint").alias("n_skippable"),
                 F.round(F.sum(skippable) / F.count(F.lit(1))
                         .cast("double"), 9).alias("skip_ratio")))


# ---------------------------------------------------------------------------
# small-file compaction planning (greedy sequential bin packing)
# ---------------------------------------------------------------------------

_COMPACT_FILES = 200     # simulated input files
_COMPACT_TARGET = 120    # target rows per compacted output


@query("compaction_bin_plan", f"""
WITH files AS (
  SELECT o_orderkey % {_COMPACT_FILES} AS file_id,
         COUNT(*) AS n_rows
  FROM orders GROUP BY 1
),
planned AS (
  SELECT file_id, n_rows,
         CAST((SUM(n_rows) OVER (ORDER BY file_id
                                 ROWS UNBOUNDED PRECEDING) - n_rows)
              // {_COMPACT_TARGET} AS BIGINT) AS bin
  FROM files
)
SELECT bin,
       COUNT(*) AS n_files,
       CAST(SUM(n_rows) AS BIGINT) AS total_rows,
       ROUND(CAST(SUM(n_rows) AS DOUBLE) / {_COMPACT_TARGET}, 9)
         AS fill_vs_target
FROM planned GROUP BY bin
""")
def compaction_bin_plan(spark, sf_dir):
    """SMALL-FILE COMPACTION plan: given per-file row counts (simulated by
    an orderkey hash), assign files to compacted output bins by the
    greedy running-sum rule (bin = floor(prefix_sum_before / target)) —
    the same contiguous-packing relational trick as token packing,
    applied to the table-maintenance problem every large lake runs
    nightly. One window over the (small) file-stats table; the actual
    rewrite would then repartitionByRange on bin. Output: per-bin file
    count, rows, and fill ratio vs target."""
    o = t(spark, sf_dir, "orders")
    files = (o.groupBy((F.col("o_orderkey") % _COMPACT_FILES)
                       .alias("file_id"))
             .agg(F.count(F.lit(1)).alias("n_rows")))
    w = W.orderBy("file_id").rowsBetween(W.unboundedPreceding, 0)
    planned = files.withColumn(
        "bin", ((F.sum("n_rows").over(w) - F.col("n_rows"))
                / _COMPACT_TARGET).cast("long"))
    return (planned.groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n_files"),
                 F.sum("n_rows").cast("bigint").alias("total_rows"),
                 F.round(F.sum("n_rows").cast("double")
                         / _COMPACT_TARGET, 9).alias("fill_vs_target")))


# ---------------------------------------------------------------------------
# curation bias audit: does dedup remove disproportionately low-quality docs?
# ---------------------------------------------------------------------------

_QB_MIN_CHARS = 200


def _bias_sql() -> str:
    from arangodb_java_parquet_spark.queries.text_pipeline import (
        _MINHASH_SIG_SQL, lsh_pairs_cte_sql)
    return _MINHASH_SIG_SQL + lsh_pairs_cte_sql("cand") + f""",
flags AS (
  SELECT d.doc_id,
         d.n_chars >= {_QB_MIN_CHARS} AS passes_quality,
         d.doc_id IN (SELECT doc_b FROM cand) AS is_dropped
  FROM documents d
),
cells AS (
  SELECT passes_quality, NOT is_dropped AS is_survivor, COUNT(*) AS n
  FROM flags GROUP BY 1, 2
),
tot AS (
  SELECT CAST(SUM(n) AS DOUBLE) AS total,
         CAST(SUM(CASE WHEN passes_quality THEN n ELSE 0 END) AS DOUBLE)
           AS n_q,
         CAST(SUM(CASE WHEN is_survivor THEN n ELSE 0 END) AS DOUBLE)
           AS n_s
  FROM cells
)
SELECT c.passes_quality, c.is_survivor,
       CAST(c.n AS BIGINT) AS n,
       ROUND((CASE WHEN c.passes_quality THEN t.n_q
                   ELSE t.total - t.n_q END)
             * (CASE WHEN c.is_survivor THEN t.n_s
                     ELSE t.total - t.n_s END) / t.total, 9) AS expected,
       ROUND(pow(c.n - (CASE WHEN c.passes_quality THEN t.n_q
                             ELSE t.total - t.n_q END)
                       * (CASE WHEN c.is_survivor THEN t.n_s
                               ELSE t.total - t.n_s END) / t.total, 2)
             / ((CASE WHEN c.passes_quality THEN t.n_q
                      ELSE t.total - t.n_q END)
                * (CASE WHEN c.is_survivor THEN t.n_s
                        ELSE t.total - t.n_s END) / t.total), 9)
         AS chi2_term
FROM cells c CROSS JOIN tot t
"""


@query("curation_bias_audit", _bias_sql())
def curation_bias_audit(spark, sf_dir):
    """CURATION BIAS audit: the 2x2 contingency of (passes the quality
    gate) x (survives MinHash/LSH near-dup pruning — a doc is dropped
    when it has a smaller-id candidate partner, the funnel's keep rule),
    with per-cell expected counts under independence and chi-square
    terms — the table that answers "is my dedup stage quietly skewing
    the quality mix?" before anyone trains on the output. Sum of
    chi2_term = the chi-square statistic (1 dof). Relational shape: the
    standard LSH candidate stage, one anti-membership flag, one 4-cell
    rollup, scalar marginals broadcast back. Round-9 on the derived
    expected/chi2 ratios per the cross-engine rules."""
    from arangodb_java_parquet_spark.operators.dedup import (
        char_shingles, lsh_candidate_pairs, minhash_signatures)
    d = t(spark, sf_dir, "documents")
    sh = char_shingles(d)
    # lazy-checkpoint the signatures so the band self-join shares one
    # materialization instead of re-deriving the non-canonicalizing
    # minhash lineage per side (r5 VERDICT #4)
    sigs = minhash_signatures(sh).transform(materialize)
    cand = lsh_candidate_pairs(sigs)
    dropped = cand.select(F.col("doc_b").alias("doc_id")).distinct()
    flags = (d.select(
        "doc_id", (F.col("n_chars") >= _QB_MIN_CHARS)
        .alias("passes_quality"))
        .join(dropped.withColumn("__drop", F.lit(True)), "doc_id", "left")
        .select("passes_quality",
                F.coalesce(F.col("__drop"), F.lit(False)).alias("__d")))
    # cells (4 rows) feeds BOTH the marginal agg and the final projection;
    # checkpoint so the whole flags->cand lineage runs once, not twice
    cells = (flags.groupBy("passes_quality",
                           (~F.col("__d")).alias("is_survivor"))
             .agg(F.count(F.lit(1)).alias("n"))
             .transform(materialize))
    tot = cells.agg(
        F.sum("n").cast("double").alias("total"),
        F.sum(F.when(F.col("passes_quality"), F.col("n")).otherwise(0))
        .cast("double").alias("n_q"),
        F.sum(F.when(F.col("is_survivor"), F.col("n")).otherwise(0))
        .cast("double").alias("n_s"))
    j = cells.crossJoin(F.broadcast(tot))
    row_m = F.when(F.col("passes_quality"), F.col("n_q")) \
        .otherwise(F.col("total") - F.col("n_q"))
    col_m = F.when(F.col("is_survivor"), F.col("n_s")) \
        .otherwise(F.col("total") - F.col("n_s"))
    expected = row_m * col_m / F.col("total")
    return j.select(
        "passes_quality", "is_survivor",
        F.col("n").cast("bigint").alias("n"),
        F.round(expected, 9).alias("expected"),
        F.round(F.pow(F.col("n") - expected, F.lit(2)) / expected, 9)
        .alias("chi2_term"))


# ---------------------------------------------------------------------------
# cross-source vocabulary overlap matrix (mixture-design audit)
# ---------------------------------------------------------------------------

_VOCAB_K = 40


@query("vocab_overlap_matrix", f"""
WITH toks AS (
  SELECT DISTINCT source, tok
  FROM (SELECT source, UNNEST(string_split(text, ' ')) AS tok
        FROM documents)
),
df AS (
  SELECT source, tok, COUNT(*) AS c
  FROM (SELECT DISTINCT d.source, d.doc_id, x.tok
        FROM documents d,
             UNNEST(string_split(d.text, ' ')) AS x(tok))
  GROUP BY source, tok
),
top AS (
  SELECT source, tok FROM (
    SELECT source, tok,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY c DESC, tok ASC) AS rn
    FROM df
  ) WHERE rn <= {_VOCAB_K}
),
sizes AS (SELECT source, COUNT(*) AS k FROM top GROUP BY source),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
  FROM top a JOIN top b ON b.tok = a.tok AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.src_a, i.src_b,
       CAST(i.n_common AS BIGINT) AS n_common,
       ROUND(i.n_common
             / CAST(sa.k + sb.k - i.n_common AS DOUBLE), 9)
         AS vocab_jaccard
FROM inter i
JOIN sizes sa ON sa.source = i.src_a
JOIN sizes sb ON sb.source = i.src_b
""")
def vocab_overlap_matrix(spark, sf_dir):
    """CROSS-SOURCE vocabulary overlap: Jaccard of each source pair's
    top-{_VOCAB_K} document-frequency vocabularies — the mixture-design
    audit that tells you which sources are lexically redundant (near-1
    overlap: down-weight one) vs complementary (near-0: both earn their
    tokens). Relational shape: per-source doc-frequency top-K (one
    window over a bounded vocab table), a self-equi-join on token for
    intersections, set sizes joined back for the union denominator —
    O(n_sources^2 * K) output, trivially broadcastable. Deterministic
    top-K via (df DESC, token ASC)."""
    d = t(spark, sf_dir, "documents")
    doc_tok = (d.select("source", "doc_id",
                        F.explode(F.split("text", " ")).alias("tok"))
               .distinct())
    df_tab = (doc_tok.groupBy("source", "tok")
              .agg(F.count(F.lit(1)).alias("c")))
    # top (n_sources x K rows) feeds sizes + both self-join sides;
    # checkpoint so the explode->DF->window lineage runs once, not three
    # times (r5 VERDICT #4)
    top = (df_tab.withColumn(
               "rn", F.row_number().over(
                   W.partitionBy("source")
                   .orderBy(F.desc("c"), F.asc("tok"))))
           .filter(F.col("rn") <= _VOCAB_K)
           .select("source", "tok")
           .transform(materialize))
    sizes = top.groupBy("source").agg(F.count(F.lit(1)).alias("k"))
    a = top.select(F.col("source").alias("src_a"), "tok")
    b = top.select(F.col("source").alias("src_b"), "tok")
    inter = (a.join(b, "tok")
             .filter(F.col("src_a") < F.col("src_b"))
             .groupBy("src_a", "src_b")
             .agg(F.count(F.lit(1)).alias("n_common")))
    sa = sizes.select(F.col("source").alias("src_a"),
                      F.col("k").alias("ka"))
    sb = sizes.select(F.col("source").alias("src_b"),
                      F.col("k").alias("kb"))
    return (inter.join(F.broadcast(sa), "src_a")
            .join(F.broadcast(sb), "src_b")
            .select("src_a", "src_b",
                    F.col("n_common").cast("bigint").alias("n_common"),
                    F.round(F.col("n_common")
                            / (F.col("ka") + F.col("kb")
                               - F.col("n_common")).cast("double"), 9)
                    .alias("vocab_jaccard")))


# ---------------------------------------------------------------------------
# smoothed target encoding of a categorical feature
# ---------------------------------------------------------------------------

_TE_M = 10.0  # m-estimate smoothing strength (pseudo-observations)


@query("feature_target_encode", f"""
WITH g AS (
  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS gsum,
         COUNT(*) AS gn
  FROM orders
),
cat AS (
  SELECT o_orderpriority,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS csum,
         COUNT(*) AS cn
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority,
       CAST(cn AS BIGINT) AS n,
       csum / cn AS raw_mean,
       (csum + {_TE_M} * (gsum / gn)) / (cn + {_TE_M}) AS encoded_mean
FROM cat CROSS JOIN g
""")
def feature_target_encode(spark, sf_dir):
    """SMOOTHED TARGET ENCODING (m-estimate / empirical-Bayes shrinkage,
    the Micci-Barreca encoder): each category's numeric representation is
    its target mean shrunk toward the global mean by {m} pseudo-
    observations — the standard high-cardinality categorical encoder for
    tabular ML, computed as two combinable exact-decimal aggregations
    with the 1-row global broadcast back. All derived values are plain
    IEEE ratios of exact decimal sums (no rounding needed — the
    decimal-sum/count rule); at scale the category table is the only
    shuffle and rare categories are exactly where the shrinkage
    matters."""
    o = t(spark, sf_dir, "orders")
    g = o.agg(F.sum(F.col("o_totalprice").cast("decimal(30,8)"))
              .cast("double").alias("gsum"),
              F.count(F.lit(1)).alias("gn"))
    cat = (o.groupBy("o_orderpriority")
           .agg(F.sum(F.col("o_totalprice").cast("decimal(30,8)"))
                .cast("double").alias("csum"),
                F.count(F.lit(1)).alias("cn")))
    return (cat.crossJoin(F.broadcast(g))
            .select("o_orderpriority",
                    F.col("cn").cast("bigint").alias("n"),
                    (F.col("csum") / F.col("cn")).alias("raw_mean"),
                    ((F.col("csum") + _TE_M * (F.col("gsum") / F.col("gn")))
                     / (F.col("cn") + _TE_M)).alias("encoded_mean")))


# ---------------------------------------------------------------------------
# per-group OLS residual outlier report (model-apply in-engine)
# ---------------------------------------------------------------------------

_RESID_MOMENTS = """
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,8)))
              AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(30,8)))
              AS DOUBLE) AS sxy
  FROM lineitem GROUP BY 1
"""


@query("regression_residual_outliers", f"""
WITH m AS ({_RESID_MOMENTS}),
fit AS (
  SELECT l_returnflag, n,
         ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) AS slope,
         ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
               / n, 9) AS intercept
  FROM m
),
r AS (
  SELECT l.l_returnflag,
         l.l_extendedprice
           - (f.intercept + f.slope * l.l_quantity) AS resid
  FROM lineitem l JOIN fit f ON f.l_returnflag = l.l_returnflag
),
s AS (
  SELECT l_returnflag,
         sqrt(CAST(SUM(CAST(ROUND(resid * resid, 2) AS DECIMAL(30,2)))
                   AS DOUBLE) / COUNT(*)) AS resid_sigma
  FROM r GROUP BY 1
)
SELECT f.l_returnflag, CAST(f.n AS BIGINT) AS n,
       f.slope, f.intercept, s.resid_sigma,
       CAST(SUM(CASE WHEN ABS(r.resid) > 2 * s.resid_sigma
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM r
JOIN s ON s.l_returnflag = r.l_returnflag
JOIN fit f ON f.l_returnflag = r.l_returnflag
GROUP BY 1, 2, 3, 4, 5
""")
def regression_residual_outliers(spark, sf_dir):
    """MODEL-APPLY OUTLIER SCREEN: fit per-group OLS
    (price ~ quantity) from one exact-decimal moment pass, broadcast the
    round-9 coefficients back over the fact table, and flag rows whose
    residual exceeds 2σ of the group's residual distribution — the
    fit-then-apply anomaly pattern (the regression sibling of
    anomaly_zscore_days). Two fact scans by design: σ needs the full
    residual pass before any row can be flagged, and re-scanning beats
    materializing a fact-sized intermediate at scale. Residual values
    are IEEE-identical cross-engine (rounded coefficients, plain
    arithmetic); the σ sum uses round-2 pre-decimal operands (residual²
    reaches ~1e10, where round-9 would exceed double's 16 significant
    digits)."""
    # r15: both fact passes' partial aggregations (15 decimal sums /
    # residual sigma) otherwise run in the one-task scan stage; the
    # shared spread subtree also lets Catalyst ReusedExchange the two
    # residual evaluations
    li = spread(t(spark, sf_dir, "lineitem")
                .select("l_returnflag", "l_quantity", "l_extendedprice"))
    m = (li.groupBy("l_returnflag")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(F.col("l_quantity").cast("decimal(30,8)"))
              .cast("double").alias("sx"),
              F.sum((F.col("l_quantity") * F.col("l_quantity"))
                    .cast("decimal(30,8)")).cast("double").alias("sxx"),
              F.sum(F.col("l_extendedprice").cast("decimal(30,8)"))
              .cast("double").alias("sy"),
              F.sum((F.col("l_quantity") * F.col("l_extendedprice"))
                    .cast("decimal(30,8)")).cast("double").alias("sxy")))
    slope_expr = ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                  / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")))
    fit = m.select(
        "l_returnflag", "n",
        F.round(slope_expr, 9).alias("slope"),
        F.round((F.col("sy") - slope_expr * F.col("sx")) / F.col("n"), 9)
        .alias("intercept"))
    r = (li.join(F.broadcast(fit), "l_returnflag")
         .select("l_returnflag", "n", "slope", "intercept",
                 (F.col("l_extendedprice")
                  - (F.col("intercept")
                     + F.col("slope") * F.col("l_quantity")))
                 .alias("resid")))
    s = (r.groupBy("l_returnflag")
         .agg(F.sqrt(F.sum(F.round(F.col("resid") * F.col("resid"), 2)
                           .cast("decimal(30,2)")).cast("double")
                     / F.count(F.lit(1))).alias("resid_sigma")))
    return (r.join(F.broadcast(s), "l_returnflag")
            .groupBy("l_returnflag", F.col("n").cast("bigint").alias("n"),
                     "slope", "intercept", "resid_sigma")
            .agg(F.sum(F.when(F.abs(F.col("resid"))
                              > 2 * F.col("resid_sigma"), 1).otherwise(0))
                 .cast("bigint").alias("n_outliers")))
