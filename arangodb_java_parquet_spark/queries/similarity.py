"""Similarity-search inventory over the ``embeddings`` table
(array<float> × 64): exact brute-force cosine top-k, SRP-LSH bucketed
approximate top-k, per-label embedding stats.

Oracle strategy: the DuckDB SQL evaluates dot products with the exact same
left-to-right double accumulation as the Spark `F.aggregate` implementation
(list_transform with per-element double casts — NOT list_dot_product, which
accumulates in float32 and diverges at ~1e-8), then both sides round to 9
decimals before ranking. See operators/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from arangodb_java_parquet_spark.materialize import materialize
from arangodb_java_parquet_spark.operators.similarity import (
    SRP_BITS, cosine, dot, norm, srp_bucket, topk_cosine_bruteforce,
    topk_cosine_lsh)
from arangodb_java_parquet_spark.queries.common import (
    SQL_DOT, query, sql_cos, srp_bucket_sql, t)


@query("sim_topk_bruteforce", f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
pairs AS (
  SELECT q.qid, e.vec_id AS vid,
         {sql_cos('q.qvec', 'e.embedding')} AS cos_sim
  FROM embeddings e CROSS JOIN q
  WHERE q.qid != e.vec_id
),
ranked AS (
  SELECT qid, vid, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vid) AS rn
  FROM pairs
)
SELECT qid, vid, cos_sim, rn FROM ranked WHERE rn <= 5
""")
def sim_topk_bruteforce(spark, sf_dir):
    """Exact cosine top-5 for query vectors vec_id<5 against the corpus.
    Scale: query side broadcast; corpus scanned once, no corpus shuffle."""
    e = t(spark, sf_dir, "embeddings")
    return topk_cosine_bruteforce(
        e.filter(F.col("vec_id") < 5), e, id_col="vec_id",
        vec_col="embedding", k=5)


@query("sim_topk_lsh_bucketed", f"""
WITH b AS (
  SELECT vec_id, embedding,
         {srp_bucket_sql(SRP_BITS)} AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS qid, embedding AS qvec, bucket FROM b WHERE vec_id < 20),
pairs AS (
  SELECT q.qid, e.vec_id AS vid,
         {sql_cos('q.qvec', 'e.embedding')} AS cos_sim
  FROM b e JOIN q ON e.bucket = q.bucket
  WHERE q.qid != e.vec_id
),
ranked AS (
  SELECT qid, vid, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vid) AS rn
  FROM pairs
)
SELECT qid, vid, cos_sim, rn FROM ranked WHERE rn <= 5
""")
def sim_topk_lsh_bucketed(spark, sf_dir):
    """Approximate top-5 via sign-projection LSH buckets: equi-join on bucket
    replaces the cross product — the 100 TB path (comparisons / 2^bits)."""
    e = t(spark, sf_dir, "embeddings")
    return topk_cosine_lsh(
        e.filter(F.col("vec_id") < 20), e, id_col="vec_id",
        vec_col="embedding", k=5)


@query("emb_near_dup_pairs", f"""
WITH b AS (
  SELECT vec_id, embedding,
         {srp_bucket_sql(SRP_BITS)} AS bucket
  FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {sql_cos('a.embedding', 'b.embedding')} AS cos_sim
FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {sql_cos('a.embedding', 'b.embedding')} >= 0.4
""")
def emb_near_dup_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs: SRP-LSH bucket equi-join
    replaces the all-pairs cross product; exact cosine filters within the
    bucket — the embedding leg of the dedup funnel at corpus scale.

    Scale contract: with FIXED SRP bits the in-bucket pair count grows
    quadratically in corpus size (the round-9 scale probe measured
    exactly that on the uncapped kNN sibling before it was capped) — a
    production run must grow ``bits`` with the corpus, ~log2(n / target
    bucket size), so buckets stay O(1) and pair work stays linear. The
    4-bit setting here matches the oracle on the test corpus; consumers
    needing a hard bound regardless of bucketing use the capped funnel
    (lsh_candidate_pairs_capped / emb_knn_outlier_score's shortlist)."""
    e = t(spark, sf_dir, "embeddings")
    # norms below the self-join (see topk_cosine_bruteforce): the in-bucket
    # pair projection is ONE dot, not the 3-HOF cosine re-expanded per pair
    b = (e.select("vec_id", "embedding",
                  srp_bucket(F.col("embedding"), SRP_BITS).alias("bucket"))
         .withColumn("nrm", norm(F.col("embedding"))))
    a = b.alias("a")
    c = (b.withColumnRenamed("vec_id", "vec_id_b")
         .withColumnRenamed("embedding", "embedding_b")
         .withColumnRenamed("nrm", "nrm_b").alias("c"))
    cos = F.round(dot(F.col("a.embedding"), F.col("c.embedding_b"))
                  / F.nullif(F.col("a.nrm") * F.col("c.nrm_b"),
                             F.lit(0.0)), 9)
    # barrier before the threshold filter — otherwise Catalyst pushes
    # the inlined cos_sim predicate into the bucket join's condition and
    # every candidate pair pays the HOF dot twice (r15, the
    # fuzzy-levenshtein duplicated-evaluation class). kind="barrier":
    # single consumer, so reliable mode must not 2x-replicate the full
    # pre-threshold pair set (ADVICE r15)
    return (a.join(c, (F.col("a.bucket") == F.col("c.bucket"))
                   & (F.col("a.vec_id") < F.col("c.vec_id_b")))
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("c.vec_id_b").alias("vec_b"),
                    cos.alias("cos_sim"))
            .transform(materialize, "barrier")
            .filter(F.col("cos_sim") >= 0.4))


@query("emb_label_stats", f"""
SELECT label,
       COUNT(*) AS n_vecs,
       CAST(SUM(CAST(round(sqrt({SQL_DOT.format(a='embedding', b='embedding')}), 6)
                     AS DECIMAL(30,6))) AS DOUBLE) AS sum_norm,
       CAST(MIN(embedding[1]) AS DOUBLE) AS min_first,
       CAST(MAX(embedding[1]) AS DOUBLE) AS max_first
FROM embeddings
GROUP BY label
""")
def emb_label_stats(spark, sf_dir):
    """Per-label embedding stats: vector count, exact sum of (rounded) L2
    norms, extrema of the first coordinate."""
    e = t(spark, sf_dir, "embeddings")
    rounded_norm = F.round(norm(F.col("embedding")), 6)
    return (e.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.sum(rounded_norm.cast("decimal(30,6)")).cast("double")
                 .alias("sum_norm"),
                 F.min(F.col("embedding").getItem(0)).cast("double")
                 .alias("min_first"),
                 F.max(F.col("embedding").getItem(0)).cast("double")
                 .alias("max_first")))


@query("emb_bucket_histogram", f"""
SELECT {srp_bucket_sql(SRP_BITS)} AS bucket,
       COUNT(*) AS n_vecs
FROM embeddings
GROUP BY 1
""")
def emb_bucket_histogram(spark, sf_dir):
    """SRP bucket occupancy histogram — the skew diagnostic you run before
    trusting an LSH join at scale."""
    e = t(spark, sf_dir, "embeddings")
    return (e.groupBy(srp_bucket(F.col("embedding"), SRP_BITS).alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n_vecs")))


_L2 = ("sqrt(list_sum(list_transform(range(1, len(embedding)+1),"
       " i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)))")


@query("emb_l2_normalize", f"""
SELECT vec_id,
       round({_L2}, 9) AS l2_norm,
       round(embedding[1]::DOUBLE / NULLIF({_L2}, 0), 9) AS u1,
       round(embedding[2]::DOUBLE / NULLIF({_L2}, 0), 9) AS u2,
       round(embedding[3]::DOUBLE / NULLIF({_L2}, 0), 9) AS u3,
       round(embedding[4]::DOUBLE / NULLIF({_L2}, 0), 9) AS u4
FROM embeddings
""")
def emb_l2_normalize(spark, sf_dir):
    """L2 normalization of the embedding column — the preprocessing step
    every cosine-similarity pipeline needs (normalized vectors turn cosine
    top-k into dot-product top-k). Pure JVM array expressions, one scan, no
    shuffle; the first four unit-vector coordinates are value-checked (the
    full array column would defeat the driver's scalar canonicalizer)."""
    e = t(spark, sf_dir, "embeddings")
    nrm = norm(F.col("embedding"))
    cols = [F.round(F.col("embedding").getItem(i).cast("double")
                    / F.nullif(nrm, F.lit(0.0)), 9)
            .alias(f"u{i + 1}") for i in range(4)]
    return e.select("vec_id", F.round(nrm, 9).alias("l2_norm"), *cols)


_D2 = ("round(list_sum(list_transform(range(1, len({a})+1),"
       " i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE)"
       " * ({a}[i]::DOUBLE - {b}[i]::DOUBLE))), 9)")


@query("sim_topk_ivf_rulebased", f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
  WHERE vec_id % 37 = 0
),
assign AS (
  SELECT vec_id, embedding, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY {_D2.format(a='embedding', b='cvec')},
                                     cid) AS crn
  FROM embeddings CROSS JOIN cents
),
cells AS (SELECT vec_id, embedding, cid AS cell FROM assign WHERE crn = 1),
probes AS (
  SELECT vec_id AS qid, embedding AS qvec, cid AS cell
  FROM assign WHERE vec_id < 10 AND crn <= 2
),
pairs AS (
  SELECT p.qid, c.vec_id AS vid,
         {sql_cos('p.qvec', 'c.embedding')} AS cos_sim
  FROM cells c JOIN probes p ON c.cell = p.cell
  WHERE p.qid != c.vec_id
),
ranked AS (
  SELECT qid, vid, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cos_sim DESC, vid) AS rn
  FROM pairs
)
SELECT qid, vid, cos_sim, rn FROM ranked WHERE rn <= 5
""")
def sim_topk_ivf_rulebased(spark, sf_dir):
    """IVF ANN made fully value-checkable: centroids are a deterministic
    RULE (every 37th vector) instead of a fitted sample, so the whole
    index — cell assignment (argmin rounded squared-L2, centroid-id
    tiebreak), n_probe=2 probing, in-cell cosine top-5 — reproduces
    bit-for-bit in the DuckDB oracle. Assignment and probing are argmin /
    top-2 over the broadcast centroid array computed as pure expressions
    (array_min / array_sort of (d2, cid) structs) — zero per-(vector,
    centroid) rows and zero shuffle, where ROW_NUMBER over a crossJoin
    materializes and sorts n_vectors x n_centroids rows. sim_topk_ivf
    keeps the KMeans-fitted centroids and its recall test."""
    from arangodb_java_parquet_spark.operators.similarity import (
        assign_cells, centroid_scores)
    e = t(spark, sf_dir, "embeddings")
    cents = (e.filter(F.col("vec_id") % 37 == 0)
             .select(F.col("vec_id").alias("cid"),
                     F.col("embedding").alias("cvec")))
    cells = assign_cells(e, cents, id_col="vec_id", vec_col="embedding")
    cents_arr, scored = centroid_scores(cents, "embedding")
    probes = (e.filter(F.col("vec_id") < 10)
              .crossJoin(F.broadcast(cents_arr))
              .select(F.col("vec_id").alias("qid"),
                      F.col("embedding").alias("qvec"),
                      F.explode(
                          F.slice(F.transform(F.array_sort(scored),
                                              lambda s: s["cid"]), 1, 2))
                      .alias("cell"))
              .withColumn("qnrm", norm(F.col("qvec"))))
    # corpus-side norm below the probe join: one dot per (probe, member)
    pairs = (cells.withColumn("cnrm", norm(F.col("embedding")))
             .join(F.broadcast(probes), "cell")
             .filter(F.col("qid") != F.col("vec_id"))
             .select("qid", F.col("vec_id").alias("vid"),
                     F.round(dot(F.col("qvec"), F.col("embedding"))
                             / F.nullif(F.col("qnrm") * F.col("cnrm"),
                                        F.lit(0.0)), 9)
                     .alias("cos_sim")))
    wr = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), "vid")
    return (pairs.withColumn("rn", F.row_number().over(wr))
            .filter(F.col("rn") <= 5))


@query("semdedup_prune", f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
  WHERE vec_id % 37 = 0
),
assign AS (
  SELECT vec_id, embedding, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY {_D2.format(a='embedding', b='cvec')},
                                     cid) AS crn
  FROM embeddings CROSS JOIN cents
),
cells AS (SELECT vec_id, embedding, cid AS cell FROM assign WHERE crn = 1),
pairs AS (
  SELECT b.vec_id AS vec_id, a.cell AS cell,
         {sql_cos('a.embedding', 'b.embedding')} AS cos_sim
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
)
SELECT vec_id, cell, COUNT(*) AS n_dups, MAX(cos_sim) AS max_cos
FROM pairs WHERE cos_sim >= 0.4
GROUP BY vec_id, cell
""")
def semdedup_prune(spark, sf_dir):
    """SemDeDup (arXiv:2303.09540) semantic dedup: cluster embeddings to
    cells (deterministic rule centroids: every 37th vector), pairwise
    cosine ONLY within a cell, drop vectors with a >= 0.4 neighbor of
    smaller id. The cluster stage bounds the quadratic comparison to cell
    sizes — the property that makes semantic dedup run at corpus scale.
    See operators/similarity.py:semdedup_prune."""
    from arangodb_java_parquet_spark.operators.similarity import (
        semdedup_prune as _sd)
    e = t(spark, sf_dir, "embeddings")
    return _sd(e, id_col="vec_id", vec_col="embedding",
               cent_mod=37, tau=0.4)


_PQ_FIT_CACHE: dict = {}


def _pq_fit_shared(spark, sf_dir):
    """Session-shared PQ fit (VERDICT r11 #3): the codeword argmin over
    the corpus — the dominant cost of every flat-PQ entry — runs ONCE per
    (SparkContext, sf_dir) and is localCheckpointed; encode / ADC /
    rerank all consume the same materialized table instead of re-deriving
    the interpreted-HOF argmin chain per entry. The first consumer still
    pays (and thereby still exercises) the full fit lineage in-session —
    this is in-memory sharing, not the parquet model store (that split is
    ann_stored.py's job). Both code forms derive from one ``emit="struct"``
    materialization (cid and pos are fields of the SAME argmin struct), so
    values are identical to the per-entry fits by construction.

    Returns ``(enc_cid, enc_pos, cb)``: (vec_id, pq_code) /
    (vec_id, pq_pos) / the 1-row broadcastable codebook."""
    import os as _os
    from arangodb_java_parquet_spark.operators.similarity import (
        pq_codebook, pq_encode)
    key = (spark.sparkContext.applicationId, _os.path.abspath(sf_dir))
    hit = _PQ_FIT_CACHE.get(key)
    if hit is None:
        e = t(spark, sf_dir, "embeddings")
        best = (pq_encode(e, id_col="vec_id", vec_col="embedding",
                          emit="struct")
                .select("vec_id", "pq_best")
                .transform(materialize))
        cb = (pq_codebook(e, id_col="vec_id", vec_col="embedding")
              .transform(materialize))
        hit = (best, cb)
        _PQ_FIT_CACHE[key] = hit
    best, cb = hit
    enc_cid = best.select(
        "vec_id",
        F.expr("transform(pq_best, x -> coalesce(x.cid,"
               " CAST(-1 AS BIGINT)))").alias("pq_code"))
    enc_pos = best.select(
        "vec_id",
        F.expr("transform(pq_best, x -> coalesce(x.pos, -1))")
        .alias("pq_pos"))
    return enc_cid, enc_pos, cb


_PQ_COMMON = """
WITH subs AS (SELECT UNNEST(range(0, 8)) AS s),
cb AS (
  SELECT s, vec_id AS cid, embedding AS cvec
  FROM embeddings CROSS JOIN subs WHERE vec_id % 37 = 0
),
sv AS (SELECT vec_id, s, embedding FROM embeddings CROSS JOIN subs),
scored AS (
  SELECT sv.vec_id, sv.s, cb.cid,
         round(list_sum(list_transform(range(1, 9),
               i -> (sv.embedding[sv.s*8 + i]::DOUBLE
                     - cb.cvec[cb.s*8 + i]::DOUBLE)
                  * (sv.embedding[sv.s*8 + i]::DOUBLE
                     - cb.cvec[cb.s*8 + i]::DOUBLE))), 9) AS d2
  FROM sv JOIN cb ON sv.s = cb.s
),
codes AS (
  SELECT vec_id, s, cid FROM (
    SELECT vec_id, s, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s
                              ORDER BY d2, cid) AS rn
    FROM scored) WHERE rn = 1
)
"""

_PQ_ENCODE_SQL = _PQ_COMMON + """
SELECT vec_id,
       string_agg(CAST(cid AS VARCHAR), '-' ORDER BY s) AS pq_code
FROM codes GROUP BY vec_id
"""


@query("sim_pq_encode", _PQ_ENCODE_SQL)
def sim_pq_encode(spark, sf_dir):
    """Product-quantization encode (Jegou et al. 2011 / FAISS PQ): each
    64-dim embedding -> 8 codeword ids (nearest codeword per 8-dim
    subspace; rule codebook = every 37th vector, so the whole encoding
    value-checks). Codebook broadcast, per-subspace argmin as pure
    array_min expressions — linear scan, no shuffle. Code emitted as a
    '-'-joined string (driver canonicalizer needs scalar columns).
    operators/similarity.py:pq_encode; the fit is the SESSION-SHARED
    one (_pq_fit_shared, VERDICT r11 #3) every flat-PQ entry consumes."""
    enc, _pos, _cb = _pq_fit_shared(spark, sf_dir)
    return enc.select(
        "vec_id",
        F.concat_ws("-", F.col("pq_code").cast("array<string>"))
        .alias("pq_code"))


_PQ_ADC_SQL = _PQ_COMMON + """,
q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
      WHERE vec_id < 5),
adc0 AS (
  SELECT q.qid, codes.vec_id AS vid,
         CAST(round(list_sum(list_transform(range(1, 9),
              i -> (q.qvec[codes.s*8 + i]::DOUBLE
                    - cb.cvec[codes.s*8 + i]::DOUBLE)
                 * (q.qvec[codes.s*8 + i]::DOUBLE
                    - cb.cvec[codes.s*8 + i]::DOUBLE))), 9)
              AS DECIMAL(20,9)) AS d2
  FROM codes
  JOIN cb ON codes.s = cb.s AND codes.cid = cb.cid
  CROSS JOIN q
  WHERE q.qid != codes.vec_id
),
adc AS (
  SELECT qid, vid, CAST(SUM(d2) AS DOUBLE) AS adc_dist
  FROM adc0 GROUP BY qid, vid
)
SELECT qid, vid, adc_dist, rn FROM (
  SELECT qid, vid, adc_dist,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY adc_dist, vid) AS rn
  FROM adc) WHERE rn <= 5
"""


@query("sim_topk_pq_adc", _PQ_ADC_SQL)
def sim_topk_pq_adc(spark, sf_dir):
    """PQ asymmetric-distance top-5: the query vector stays exact, every
    corpus vector is its quantized reconstruction — the corpus side of
    the scan carries ONLY (id, 8-int code); codeword vectors come from
    the broadcast codebook via array-lookup expressions. Per-subspace d2
    rounded to 9 then summed as exact decimals so the oracle's unordered
    SUM is bit-equal. operators/similarity.py:pq_adc_topk; codes and
    codebook come from the SESSION-SHARED fit (_pq_fit_shared)."""
    from arangodb_java_parquet_spark.operators.similarity import (
        pq_adc_topk)
    e = t(spark, sf_dir, "embeddings")
    _cid, enc, cb = _pq_fit_shared(spark, sf_dir)
    return pq_adc_topk(e.filter(F.col("vec_id") < 5), enc, cb,
                       id_col="vec_id", vec_col="embedding", k=5)


@query("sim_pq_encode_arrow")
def sim_pq_encode_arrow(spark, sf_dir):
    """Production PQ encode path: the identical per-subspace argmin as
    sim_pq_encode, vectorized in numpy over Arrow batches (mapInPandas)
    instead of interpreted Catalyst HOFs — ~10x faster, same codes
    (equality pinned by tests/test_similarity.py::
    test_pq_encode_arrow_matches_jvm). Rows-only by design: the plan
    contains python by construction, so it carries no hash oracle — the
    JVM twin is the hash-checked entry.
    operators/similarity.py:_pq_encode_arrow."""
    from arangodb_java_parquet_spark.operators.similarity import pq_encode
    e = t(spark, sf_dir, "embeddings")
    enc = pq_encode(e, id_col="vec_id", vec_col="embedding", impl="arrow")
    return enc.select(
        "vec_id",
        F.concat_ws("-", F.col("pq_code").cast("array<string>"))
        .alias("pq_code"))


@query("sim_topk_pq_adc_arrow")
def sim_topk_pq_adc_arrow(spark, sf_dir):
    """Production ADC top-5: corpus encoded via the Arrow PQ path, probe
    unchanged (the JVM LUT+element_at probe is already the right shape at
    scale — per-query LUTs broadcast, corpus carries only (id, code)).
    Rows-only by design (python encode stage); result equality with the
    oracle-checked sim_topk_pq_adc is pinned by tests/test_similarity.py::
    test_pq_adc_arrow_matches_jvm."""
    from arangodb_java_parquet_spark.operators.similarity import (
        pq_adc_topk, pq_codebook, pq_encode)
    e = t(spark, sf_dir, "embeddings")
    enc = pq_encode(e, id_col="vec_id", vec_col="embedding",
                    emit="pos", impl="arrow").select("vec_id", "pq_pos")
    cb = pq_codebook(e, id_col="vec_id", vec_col="embedding")
    return pq_adc_topk(e.filter(F.col("vec_id") < 5), enc, cb,
                       id_col="vec_id", vec_col="embedding", k=5)


@query("emb_gram_matrix", """
SELECT a.i, b.j,
       CAST(SUM(CAST(embedding[a.i]::DOUBLE * embedding[b.j]::DOUBLE
                     AS DECIMAL(30,8))) AS DOUBLE) AS g
FROM embeddings,
     (SELECT UNNEST(range(1, 65)) AS i) a,
     (SELECT UNNEST(range(1, 65)) AS j) b
WHERE b.j >= a.i
GROUP BY 1, 2
""")
def emb_gram_matrix(spark, sf_dir):
    """Gram matrix G = Σ v·vᵀ over the embedding corpus (upper triangle,
    1-based indices) — the distributed half of PCA: G is d×d (64×64 here)
    regardless of corpus size, computed in ONE pass with a combinable
    exact-decimal aggregation; the eigendecomposition then runs on the
    driver in microseconds (tests/test_similarity.py power-iterates this
    exact G and checks the principal component against numpy's eigh).
    The i<=j pair fan-out is a chained posexplode over each row's own
    array — d²/2 rows per vector, no self-join, no shuffle before the
    final d²/2-key aggregation."""
    e = t(spark, sf_dir, "embeddings")
    e1 = e.select("embedding",
                  F.posexplode("embedding").alias("i0", "vi"))
    e2 = e1.select(
        F.col("i0"), F.col("vi"),
        F.posexplode(F.expr("slice(embedding, i0 + 1, 64)"))
        .alias("p0", "vj"))
    prod = F.col("vi").cast("double") * F.col("vj").cast("double")
    return (e2.groupBy((F.col("i0") + 1).alias("i"),
                       (F.col("i0") + F.col("p0") + 1).alias("j"))
            .agg(F.sum(prod.cast("decimal(30,8)")).cast("double")
                 .alias("g")))


@query("emb_gram_matrix_arrow")
def emb_gram_matrix_arrow(spark, sf_dir):
    """Arrow production path for the Gram matrix: one numpy X·Xᵀ partial
    per partition (d²/2 shuffle rows per PARTITION, not per vector — the
    JVM explode formulation above is d²/2 rows per vector, impractical at
    production dims 768-4096), then one exact scaled-int64 sum over d²/2
    keys. Rows-only by design (python plumbing stage); value equality
    with the oracle-checked emb_gram_matrix is pinned by
    tests/test_similarity.py::test_gram_matrix_arrow_matches_jvm."""
    from arangodb_java_parquet_spark.operators.similarity import (
        gram_matrix_arrow)
    e = t(spark, sf_dir, "embeddings")
    return gram_matrix_arrow(e, dim=64)


@query("decontaminate_semantic", f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qvec
           FROM embeddings WHERE vec_id < 5),
pairs AS (
  SELECT e.vec_id, {sql_cos('q.qvec', 'e.embedding')} AS cos_sim
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id >= 5
)
SELECT vec_id, MAX(cos_sim) AS max_cos,
       MAX(cos_sim) >= 0.6 AS contaminated
FROM pairs
GROUP BY vec_id
""")
def decontaminate_semantic(spark, sf_dir):
    """SEMANTIC decontamination — the embedding-space complement of the
    n-gram benchmark decontamination: flag any corpus vector whose cosine
    to ANY benchmark vector reaches the threshold (paraphrased test-set
    leakage that token overlap misses). The benchmark set is broadcast;
    the corpus is scanned once with a per-vector max — no corpus shuffle,
    no top-k structure needed because only the maximum matters. Round-9
    cosines keep the max and the flag engine-stable."""
    e = t(spark, sf_dir, "embeddings")
    q = (e.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qvec"))
         .withColumn("qnrm", norm(F.col("qvec"))))
    corpus = (e.filter(F.col("vec_id") >= 5)
              .withColumn("cnrm", norm(F.col("embedding"))))
    pairs = (corpus.crossJoin(F.broadcast(q))
             .select("vec_id",
                     F.round(dot(F.col("qvec"), F.col("embedding"))
                             / F.nullif(F.col("qnrm") * F.col("cnrm"),
                                        F.lit(0.0)), 9)
                     .alias("cos_sim")))
    return (pairs.groupBy("vec_id")
            .agg(F.max("cos_sim").alias("max_cos"),
                 (F.max("cos_sim") >= 0.6).alias("contaminated")))


_IVFPQ_FIT_CACHE: dict = {}


def _ivfpq_fit_shared(spark, sf_dir):
    """Session-shared IVF-PQ fit: the (cents, enc, cb) triple from
    operators/similarity.ivfpq_fit computed ONCE per (SparkContext,
    sf_dir) and localCheckpointed — the in-memory analog of the model
    store ann_stored.py uses (same artifacts, same probe)."""
    import os as _os
    from arangodb_java_parquet_spark.operators.similarity import ivfpq_fit
    key = (spark.sparkContext.applicationId, _os.path.abspath(sf_dir))
    hit = _IVFPQ_FIT_CACHE.get(key)
    if hit is None:
        e = t(spark, sf_dir, "embeddings")
        cents, enc, cb = ivfpq_fit(e, id_col="vec_id",
                                   vec_col="embedding")
        hit = (cents.transform(materialize),
               enc.transform(materialize),
               cb.transform(materialize))
        _IVFPQ_FIT_CACHE[key] = hit
    return hit


@query("sim_topk_ivfpq")
def sim_topk_ivfpq(spark, sf_dir):
    """IVF-PQ composite ANN top-5 (operators/similarity.py:ivfpq_fit +
    ivfpq_probe) — coarse cells route the query, asymmetric PQ distances
    score only the probed cells' codes. The fit triple is the
    SESSION-SHARED one (_ivfpq_fit_shared). Rows-only (composite index
    semantics); recall vs brute force pinned in
    tests/test_similarity.py."""
    from arangodb_java_parquet_spark.operators.similarity import (
        ivfpq_probe)
    e = t(spark, sf_dir, "embeddings")
    cents, enc, cb = _ivfpq_fit_shared(spark, sf_dir)
    return ivfpq_probe(e.filter(F.col("vec_id") < 10), cents, enc, cb,
                       id_col="vec_id", vec_col="embedding", k=5)


@query("emb_quantile_normalize", """
WITH comp AS (
  SELECT vec_id, a.i, embedding[a.i] AS v
  FROM embeddings, (SELECT UNNEST(range(1, 65)) AS i) a
),
ranked AS (
  SELECT vec_id, i,
         ROUND(PERCENT_RANK() OVER (PARTITION BY i ORDER BY v), 9) AS pr
  FROM comp
)
SELECT vec_id, i, pr FROM ranked WHERE vec_id < 20
""")
def emb_quantile_normalize(spark, sf_dir):
    """Per-dimension quantile (rank) normalization of the embedding
    corpus — the distribution-free feature scaling that neutralizes
    per-dimension scale/outliers before distance computations. One
    posexplode + a window partitioned by DIMENSION (64 partitions, each a
    corpus-length rank): exact at test scale; at 100 TB swap
    percent_rank for approx-quantile bucket boundaries so no dimension
    needs a total order. Ties share a rank in both engines, so round-9
    values are engine-stable; output bounded to the first 20 vectors."""
    e = t(spark, sf_dir, "embeddings")
    comp = e.select("vec_id",
                    F.posexplode("embedding").alias("i0", "v"))
    w = Window.partitionBy("i0").orderBy("v")
    ranked = comp.select(
        "vec_id", (F.col("i0") + 1).alias("i"),
        F.round(F.percent_rank().over(w), 9).alias("pr"))
    return ranked.filter(F.col("vec_id") < 20)


@query("emb_label_separability", """
WITH comp AS (
  SELECT label, a.i, embedding[a.i]::DOUBLE AS v
  FROM embeddings, (SELECT UNNEST(range(1, 65)) AS i) a
),
per_label AS (
  SELECT label, i, COUNT(*) AS n,
         CAST(SUM(CAST(v AS DECIMAL(30,8))) AS DOUBLE) AS s,
         CAST(SUM(CAST(v * v AS DECIMAL(30,8))) AS DOUBLE) AS ss
  FROM comp GROUP BY 1, 2
),
g_all AS (
  SELECT i, CAST(SUM(CAST(v AS DECIMAL(30,8))) AS DOUBLE) AS gs,
         COUNT(*) AS gn
  FROM comp GROUP BY 1
)
SELECT p.label, COUNT(*) AS n_dims,
       CAST(SUM(CAST(ROUND(p.ss / p.n - (p.s / p.n) * (p.s / p.n), 9)
                     AS DECIMAL(30,9))) AS DOUBLE) AS within_var,
       CAST(SUM(CAST(ROUND((p.s / p.n - g.gs / g.gn)
                           * (p.s / p.n - g.gs / g.gn), 9)
                     AS DECIMAL(30,9))) AS DOUBLE) AS between_var
FROM per_label p JOIN g_all g ON g.i = p.i
GROUP BY p.label
""")
def emb_label_separability(spark, sf_dir):
    """Class-separability diagnostic over the labeled embedding corpus
    (Fisher-style): per label, total within-class variance and squared
    distance of the class centroid from the global centroid, summed over
    dimensions — the cheap answer to 'are these labels separable in this
    embedding space?'. Two combinable (label, dim) / (dim) moment
    aggregations + one broadcast-sized join; per-term round-9 then exact
    sums keep the diagnostic engine-stable."""
    e = t(spark, sf_dir, "embeddings")
    comp = e.select("label", F.posexplode("embedding").alias("i0", "vf")) \
        .select("label", (F.col("i0") + 1).alias("i"),
                F.col("vf").cast("double").alias("v"))

    def ms(expr):
        return F.sum(expr.cast("decimal(30,8)")).cast("double")

    per_label = comp.groupBy("label", "i").agg(
        F.count(F.lit(1)).alias("n"), ms(F.col("v")).alias("s"),
        ms(F.col("v") * F.col("v")).alias("ss"))
    glob = comp.groupBy("i").agg(ms(F.col("v")).alias("gs"),
                                 F.count(F.lit(1)).alias("gn"))
    mean = F.col("s") / F.col("n")
    gmean = F.col("gs") / F.col("gn")
    within = F.round(F.col("ss") / F.col("n") - mean * mean, 9)
    between = F.round((mean - gmean) * (mean - gmean), 9)
    return (per_label.join(F.broadcast(glob), "i")
            .groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_dims"),
                 F.sum(within.cast("decimal(30,9)")).cast("double")
                 .alias("within_var"),
                 F.sum(between.cast("decimal(30,9)")).cast("double")
                 .alias("between_var")))


@query("sim_recall_at_k", f"""
WITH b AS (
  SELECT vec_id, embedding,
         {srp_bucket_sql(SRP_BITS)} AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS qid, embedding AS qvec, bucket FROM b
      WHERE vec_id < 20),
exact_pairs AS (
  SELECT q.qid, e.vec_id AS vid,
         {sql_cos('q.qvec', 'e.embedding')} AS cos_sim
  FROM embeddings e CROSS JOIN q WHERE q.qid != e.vec_id
),
exact_topk AS (
  SELECT qid, vid FROM (
    SELECT qid, vid,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY cos_sim DESC, vid) AS rn
    FROM exact_pairs) WHERE rn <= 5
),
lsh_pairs AS (
  SELECT q.qid, e.vec_id AS vid,
         {sql_cos('q.qvec', 'e.embedding')} AS cos_sim
  FROM b e JOIN q ON e.bucket = q.bucket WHERE q.qid != e.vec_id
),
lsh_topk AS (
  SELECT qid, vid FROM (
    SELECT qid, vid,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY cos_sim DESC, vid) AS rn
    FROM lsh_pairs) WHERE rn <= 5
)
SELECT x.qid,
       COUNT(l.vid) AS n_hits,
       COUNT(l.vid) / 5.0 AS recall_at_5
FROM exact_topk x
LEFT JOIN lsh_topk l ON l.qid = x.qid AND l.vid = x.vid
GROUP BY x.qid
""")
def sim_recall_at_k(spark, sf_dir):
    """SELF-EVALUATING ANN: per-query recall@5 of the LSH index against
    exact brute force, computed inside the engine as one query — both
    systems are deterministic here, so even the EVALUATION HARNESS is
    value-checked cross-engine (pytest tolerance checks become exact
    assertions). The join of the two top-k sets is per-query-bounded; in
    production this runs over a sampled query set to monitor index decay
    after re-ingestion."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    exact = topk_cosine_bruteforce(q, e, id_col="vec_id",
                                   vec_col="embedding", k=5) \
        .select("qid", "vid")
    lsh = topk_cosine_lsh(q, e, id_col="vec_id", vec_col="embedding",
                          k=5).select(
        F.col("qid").alias("l_qid"), F.col("vid").alias("l_vid"))
    joined = exact.join(
        lsh, (F.col("qid") == F.col("l_qid"))
        & (F.col("vid") == F.col("l_vid")), "left")
    return (joined.groupBy("qid")
            .agg(F.count("l_vid").alias("n_hits"),
                 (F.count("l_vid") / F.lit(5.0)).alias("recall_at_5")))


@query("emb_cosine_calibration", f"""
WITH b AS (
  SELECT vec_id, embedding,
         {srp_bucket_sql(SRP_BITS)} AS bucket
  FROM embeddings
),
pairs AS (
  SELECT {sql_cos('a.embedding', 'b.embedding')} AS cos_sim
  FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT CAST(FLOOR(cos_sim * 10) AS INT) AS cos_decile,
       COUNT(*) AS n_pairs
FROM pairs
GROUP BY 1
""")
def emb_cosine_calibration(spark, sf_dir):
    """Threshold CALIBRATION histogram: the distribution of pairwise
    cosines inside LSH buckets, bucketed by decile — how an operator
    picks tau for near-dup pruning (the histogram's valley separates
    same-item pairs from same-bucket noise) BEFORE running any deletion.
    The pair universe is LSH-bounded; the decile floor is an integer map
    on the round-9 cosine, so buckets are engine-exact."""
    e = t(spark, sf_dir, "embeddings")
    # norms below the self-join: one dot per in-bucket pair
    b = (e.select("vec_id", "embedding",
                  srp_bucket(F.col("embedding"), SRP_BITS).alias("bucket"))
         .withColumn("nrm", norm(F.col("embedding"))))
    a2 = b.select(F.col("vec_id").alias("vid_b"),
                  F.col("embedding").alias("emb_b"),
                  F.col("bucket").alias("bucket_b"),
                  F.col("nrm").alias("nrm_b"))
    pairs = (b.join(a2, (F.col("bucket") == F.col("bucket_b"))
                    & (F.col("vec_id") < F.col("vid_b")))
             .select(F.round(dot(F.col("embedding"), F.col("emb_b"))
                             / F.nullif(F.col("nrm") * F.col("nrm_b"),
                                        F.lit(0.0)), 9)
                     .alias("cos_sim")))
    return (pairs.groupBy(F.floor(F.col("cos_sim") * 10).cast("int")
                          .alias("cos_decile"))
            .agg(F.count(F.lit(1)).alias("n_pairs")))


_MKNN_N = 300   # universe bound: the exact all-pairs graph is the oracle
_MKNN_K = 5     # harness; production uses the ANN candidates instead


@query("emb_mutual_knn_graph", f"""
WITH u AS (SELECT vec_id, embedding FROM embeddings
           WHERE vec_id < {_MKNN_N}),
pairs AS (
  SELECT a.vec_id AS qid, b.vec_id AS vid,
         {sql_cos('a.embedding', 'b.embedding')} AS cos_sim
  FROM u a JOIN u b ON a.vec_id <> b.vec_id
),
topk AS (
  SELECT qid, vid, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cos_sim DESC, vid ASC) AS rn
  FROM pairs
),
knn AS (SELECT qid, vid, cos_sim, rn FROM topk WHERE rn <= {_MKNN_K})
SELECT ab.qid AS vec_a, ab.vid AS vec_b, ab.cos_sim,
       ab.rn AS rank_ab, ba.rn AS rank_ba
FROM knn ab JOIN knn ba ON ba.qid = ab.vid AND ba.vid = ab.qid
WHERE ab.qid < ab.vid
""")
def emb_mutual_knn_graph(spark, sf_dir):
    """MUTUAL k-nearest-neighbor graph over embeddings: an edge (a, b)
    exists only when b is in a's top-k AND a is in b's top-k — the
    standard denoised neighborhood graph for clustering / manifold
    methods (one-sided kNN edges to hubs are exactly what mutual-kNN
    prunes). Built as the deterministic top-k table self-joined on the
    reversed pair; at 100 TB the same self-join runs over ANN candidates
    (sim_topk_ivf / PQ-ADC) instead of the exact table — the mutual
    filter is candidate-source-agnostic. Bounded universe here so the
    oracle's exact all-pairs truth stays tractable."""
    from arangodb_java_parquet_spark.operators.similarity import (
        topk_cosine_bruteforce)
    e = t(spark, sf_dir, "embeddings")
    u = e.filter(F.col("vec_id") < _MKNN_N)
    knn = topk_cosine_bruteforce(u, u, id_col="vec_id",
                                 vec_col="embedding", k=_MKNN_K)
    # mutuality WITHOUT a self-join: group by the unordered pair key —
    # an edge is mutual iff both directions appear (count = 2). One
    # shuffle over the n*k knn table and the pair-scoring lineage is
    # evaluated ONCE (the reversed-pair self-join evaluated it per side;
    # no ReusedExchange through the round-robin repartition). cos_sim is
    # direction-symmetric bit-exactly (per-element products and the
    # norm product both commute in IEEE), so max() just picks the value.
    return (knn.groupBy(F.least("qid", "vid").alias("vec_a"),
                        F.greatest("qid", "vid").alias("vec_b"))
            .agg(F.count(F.lit(1)).alias("__n"),
                 F.max("cos_sim").alias("cos_sim"),
                 F.max(F.when(F.col("qid") < F.col("vid"), F.col("rn")))
                 .alias("rank_ab"),
                 F.max(F.when(F.col("qid") > F.col("vid"), F.col("rn")))
                 .alias("rank_ba"))
            .filter(F.col("__n") == 2)
            .select("vec_a", "vec_b", "cos_sim", "rank_ab", "rank_ba"))


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (deterministic sign matrix)
# ---------------------------------------------------------------------------

_JL_K = 8       # output dims
_JL_D = 64      # input dims


def _jl_signs() -> list:
    """±1 sign matrix derived from md5 of the (row, col) index — the same
    Python constants feed BOTH engines' generated expressions, so the
    'random' matrix is reproducible everywhere without any engine RNG."""
    import hashlib
    return [[1 if hashlib.md5(f"{j}:{i}".encode()).digest()[0] < 128 else -1
             for i in range(_JL_D)] for j in range(_JL_K)]


def _jl_expr(signs_row, elem_fmt: str) -> str:
    """One output dim as a FLAT left-associative ±x_1 ± x_2 ... sum —
    identical parse (and therefore identical IEEE result) in Spark and
    DuckDB, and whole-stage-codegen-friendly (no interpreted HOF)."""
    terms = []
    for i, s in enumerate(signs_row):
        e = elem_fmt.format(i=i + 1)
        terms.append(("+ " if s > 0 else "- ") + e)
    body = " ".join(terms)
    if body.startswith("+ "):
        body = body[2:]
    else:
        body = "-" + body[2:]
    return f"round({body}, 9)"


_JL_SIGNS = _jl_signs()

_JL_SQL = ("SELECT vec_id, "
           + ", ".join(
               _jl_expr(_JL_SIGNS[j], "embedding[{i}]::DOUBLE")
               + f" AS y{j}" for j in range(_JL_K))
           + " FROM embeddings")


@query("emb_random_projection", _JL_SQL)
def emb_random_projection(spark, sf_dir):
    """Johnson-Lindenstrauss dimensionality reduction 64 -> 8 with a
    deterministic ±1 sign matrix (md5-seeded, embedded as literals in
    both engines — no RNG anywhere): y_j = Σ_i s_ji · x_i, the
    Achlioptas-style database-friendly projection that preserves pairwise
    distances within (1±ε) whp (pytest pins the observed distortion).
    Each output dim is a FLAT left-associative sum — pure whole-stage-
    codegen arithmetic, one corpus scan, zero shuffles, and byte-exact
    cross-engine. The 100 TB use: shrink embeddings 8x before ANN
    indexing / dedup banding; the projection matrix is compile-time
    constant so executors carry no state."""
    e = t(spark, sf_dir, "embeddings")
    cols = [F.expr(_jl_expr(
                _JL_SIGNS[j],
                "CAST(element_at(embedding, {i}) AS DOUBLE)"))
            .alias(f"y{j}") for j in range(_JL_K)]
    return e.select("vec_id", *cols)


@query("emb_drift_by_label", """
WITH halves AS (
  SELECT label, vec_id % 2 AS half, embedding FROM embeddings
),
dims AS (
  SELECT label, half, i AS dim, embedding[i]::DOUBLE AS v
  FROM (SELECT label, half, embedding,
               UNNEST(range(1, len(embedding) + 1)) AS i
        FROM halves)
),
means AS (
  SELECT label, half, dim,
         CAST(SUM(CAST(ROUND(v, 9) AS DECIMAL(20,9))) AS DOUBLE)
           / COUNT(*) AS m
  FROM dims GROUP BY label, half, dim
),
paired AS (
  SELECT a.label, a.dim, a.m AS ma, b.m AS mb
  FROM means a JOIN means b
    ON b.label = a.label AND b.dim = a.dim AND a.half = 0 AND b.half = 1
)
SELECT label,
       ROUND(sqrt(CAST(SUM(CAST(ROUND((ma - mb) * (ma - mb), 9)
                                AS DECIMAL(20,9))) AS DOUBLE)), 9)
         AS l2_drift,
       ROUND(CAST(SUM(CAST(ROUND(ma * mb, 9) AS DECIMAL(20,9))) AS DOUBLE)
             / (sqrt(CAST(SUM(CAST(ROUND(ma * ma, 9) AS DECIMAL(20,9)))
                          AS DOUBLE))
                * sqrt(CAST(SUM(CAST(ROUND(mb * mb, 9) AS DECIMAL(20,9)))
                            AS DOUBLE))), 9) AS centroid_cos
FROM paired GROUP BY label
""")
def emb_drift_by_label(spark, sf_dir):
    """Embedding DRIFT monitor: per label, the L2 distance and cosine
    between the centroid of two corpus halves (vec_id parity stands in
    for two snapshots / model versions) — the alarm a pipeline raises
    before mixing embeddings from a silently-updated encoder into an
    existing index. Centroids form via posexplode + exact decimal
    per-dim sums (combinable; d rows per label per half shuffle, never
    vectors); the d-term drift sums are round-9-then-decimal per the
    half-ulp rule."""
    e = t(spark, sf_dir, "embeddings")
    dims = (e.select("label", (F.col("vec_id") % 2).alias("half"),
                     F.posexplode("embedding").alias("p0", "v"))
            .select("label", "half", (F.col("p0") + 1).alias("dim"),
                    F.col("v").cast("double").alias("v")))
    means = (dims.groupBy("label", "half", "dim")
             .agg((F.sum(F.round("v", 9).cast("decimal(20,9)"))
                   .cast("double") / F.count(F.lit(1))).alias("m")))
    a = means.filter(F.col("half") == 0).select(
        "label", "dim", F.col("m").alias("ma"))
    b = means.filter(F.col("half") == 1).select(
        "label", "dim", F.col("m").alias("mb"))
    paired = a.join(b, ["label", "dim"])
    dsum9 = lambda c: F.sum(F.round(c, 9).cast("decimal(20,9)")) \
        .cast("double")  # noqa: E731
    return (paired.groupBy("label")
            .agg(F.round(F.sqrt(dsum9((F.col("ma") - F.col("mb"))
                                      * (F.col("ma") - F.col("mb")))), 9)
                 .alias("l2_drift"),
                 F.round(dsum9(F.col("ma") * F.col("mb"))
                         / (F.sqrt(dsum9(F.col("ma") * F.col("ma")))
                            * F.sqrt(dsum9(F.col("mb") * F.col("mb")))), 9)
                 .alias("centroid_cos")))


# ---------------------------------------------------------------------------
# k-means with fixed Lloyd rounds, fully value-checked (2-D, K=4)
# ---------------------------------------------------------------------------

_KM_K = 4
_KM_ROUNDS = 2


def _kmeans_sql() -> str:
    parts = [f"""WITH pts AS (
  SELECT vec_id, ROUND(embedding[1]::DOUBLE, 9) AS x,
         ROUND(embedding[2]::DOUBLE, 9) AS y
  FROM embeddings
),
c0 AS (
  SELECT CAST(rn AS INT) AS cid, x AS cx, y AS cy FROM (
    SELECT x, y, ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                    vec_id) AS rn
    FROM pts
  ) WHERE rn <= {_KM_K}
)"""]
    for r in range(1, _KM_ROUNDS + 1):
        parts.append(f""",
a{r} AS (
  SELECT vec_id, x, y, cid FROM (
    SELECT p.vec_id, p.x, p.y, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY p.vec_id
             ORDER BY ROUND((p.x - c.cx) * (p.x - c.cx)
                            + (p.y - c.cy) * (p.y - c.cy), 9) ASC,
                      c.cid ASC) AS rn
    FROM pts p CROSS JOIN c{r - 1} c
  ) WHERE rn = 1
),
c{r} AS (
  SELECT cid,
         ROUND(CAST(SUM(CAST(x AS DECIMAL(20,9))) AS DOUBLE)
               / COUNT(*), 9) AS cx,
         ROUND(CAST(SUM(CAST(y AS DECIMAL(20,9))) AS DOUBLE)
               / COUNT(*), 9) AS cy
  FROM a{r} GROUP BY cid
)""")
    parts.append(f"""
SELECT c.cid, c.cx, c.cy, COUNT(a.vec_id) AS n_points
FROM c{_KM_ROUNDS} c
LEFT JOIN a{_KM_ROUNDS} a ON a.cid = c.cid
GROUP BY c.cid, c.cx, c.cy""")
    return "".join(parts)


def _kmeans_assign(e):
    """Shared fixed-round Lloyd loop (seeding + assignment + means) used
    by kmeans_fixed_rounds and the purity/NMI evaluation query — one
    implementation, two consumers, same SQL template on the oracle side."""
    pts = e.select(
        "vec_id",
        F.round(F.col("embedding").getItem(0).cast("double"), 9).alias("x"),
        F.round(F.col("embedding").getItem(1).cast("double"), 9).alias("y"))
    cents = (pts.withColumn(
                "rn", F.row_number().over(
                    Window.orderBy(F.md5(F.col("vec_id").cast("string")),
                                   "vec_id")))
             .filter(F.col("rn") <= _KM_K)
             .select(F.col("rn").cast("int").alias("cid"),
                     F.col("x").alias("cx"), F.col("y").alias("cy")))
    assign = None
    for _ in range(_KM_ROUNDS):
        dist = F.round((F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx"))
                       + (F.col("y") - F.col("cy"))
                       * (F.col("y") - F.col("cy")), 9)
        assign = (pts.crossJoin(F.broadcast(cents))
                  .withColumn("rn", F.row_number().over(
                      Window.partitionBy("vec_id")
                      .orderBy(dist.asc(), F.col("cid").asc())))
                  .filter(F.col("rn") == 1)
                  .select("vec_id", "x", "y", "cid"))
        cents = (assign.groupBy("cid")
                 .agg(F.round(F.sum(F.col("x").cast("decimal(20,9)"))
                              .cast("double") / F.count(F.lit(1)), 9)
                      .alias("cx"),
                      F.round(F.sum(F.col("y").cast("decimal(20,9)"))
                              .cast("double") / F.count(F.lit(1)), 9)
                      .alias("cy")))
    return assign, cents


@query("kmeans_fixed_rounds", _kmeans_sql())
def kmeans_fixed_rounds(spark, sf_dir):
    """K-means with FIXED Lloyd rounds, fully VALUE-CHECKED — unlike the
    fitted IVF entries (rows-only by necessity), this clustering is
    bit-reproducible cross-engine: deterministic md5-ranked seeding,
    argmin assignment via a (round-9 distance, cid) window tiebreak, and
    exact-decimal centroid means. Entirely declarative — no driver
    collect in the loop at all: each round is a broadcast-NLJ of the
    K-row centroid table against the points plus one combinable mean
    (the same per-round shape the distributed IVF fit uses, here over
    2-D features so the oracle stays tractable). K and the round count
    are compile-time constants generating both engines' chained stages
    from one template."""
    e = t(spark, sf_dir, "embeddings")
    assign, cents = _kmeans_assign(e)
    return (cents.join(assign, "cid", "left")
            .groupBy("cid", "cx", "cy")
            .agg(F.count("vec_id").alias("n_points")))


# ---------------------------------------------------------------------------
# ALS matrix factorization (k=2, closed-form solves), value-checked
# ---------------------------------------------------------------------------

_ALS_LAMBDA = "0.1e0"


def _als_sums(src: str, key: str, other: str, f1: str, f2: str,
              r: str) -> str:
    """Normal-equation sums for one ALS half-step: per `key`, the 2x2
    Gram of the fixed factors and the rating-weighted vector — products
    round-9 before the exact decimal sum (the repo's moment rule)."""
    return f"""
  SELECT {key},
         CAST(SUM(CAST(ROUND({f1} * {f1}, 9) AS DECIMAL(20,9)))
              AS DOUBLE) AS ga,
         CAST(SUM(CAST(ROUND({f1} * {f2}, 9) AS DECIMAL(20,9)))
              AS DOUBLE) AS gb,
         CAST(SUM(CAST(ROUND({f2} * {f2}, 9) AS DECIMAL(20,9)))
              AS DOUBLE) AS gc,
         CAST(SUM(CAST(ROUND({r} * {f1}, 9) AS DECIMAL(20,9)))
              AS DOUBLE) AS v1,
         CAST(SUM(CAST(ROUND({r} * {f2}, 9) AS DECIMAL(20,9)))
              AS DOUBLE) AS v2
  FROM {src} GROUP BY {key}"""


def _als_solve(tbl: str, key: str) -> str:
    lam = _ALS_LAMBDA
    det = f"((ga + {lam}) * (gc + {lam}) - gb * gb)"
    return f"""
  SELECT {key},
         ROUND(((gc + {lam}) * v1 - gb * v2) / {det}, 9) AS f1,
         ROUND((0.0e0 - gb * v1 + (ga + {lam}) * v2) / {det}, 9) AS f2
  FROM {tbl}"""


def _als_sql() -> str:
    return f"""
WITH ratings AS (
  SELECT o.o_custkey % 100 AS c, l.l_partkey % 100 AS i,
         CAST(COUNT(*) AS DOUBLE) AS r
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  GROUP BY 1, 2
),
y0 AS (
  SELECT DISTINCT i, 1.0e0 AS y1,
         (CAST('0x' || substring(md5(CAST(i AS VARCHAR)), 1, 2) AS INT)
          % 100) / 100.0e0 AS y2
  FROM ratings
),
usums AS ({_als_sums("ratings rt JOIN y0 ON y0.i = rt.i", "rt.c",
                     "i", "y0.y1", "y0.y2", "rt.r")}),
x1 AS ({_als_solve("usums", "c")}),
isums AS ({_als_sums("ratings rt JOIN x1 ON x1.c = rt.c", "rt.i",
                     "c", "x1.f1", "x1.f2", "rt.r")}),
y1t AS ({_als_solve("isums", "i")})
SELECT i AS item, f1 AS y1, f2 AS y2 FROM y1t
"""


@query("als_factorization", _als_sql())
def als_factorization(spark, sf_dir):
    """ALS matrix factorization (the recommender-training inner loop) as
    pure relational algebra, VALUE-CHECKED: rank-2 factors over the
    customer×part purchase-count matrix, one user half-step + one item
    half-step, each a normal-equation aggregation (per-entity 2×2 Gram +
    rating-weighted vector, products round-9 into exact decimal sums)
    followed by the CLOSED-FORM regularized 2×2 solve — no linear-algebra
    library, no driver collect, both engines generated from the same
    sum/solve templates. det ≥ λ(ga+gc+λ) > 0 by Cauchy-Schwarz, so the
    division is always safe. Scale: each half-step is one shuffle join
    (ratings × fixed-side factors) + one combinable aggregation — the
    textbook distributed-ALS shape; k>2 swaps the closed form for a
    per-row small solve (pandas-UDF) without changing the data flow.
    tests/test_similarity.py pins that the fitted factors reduce train
    RMSE vs the deterministic init."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    ratings = (li.join(o, li.l_orderkey == o.o_orderkey)
               .groupBy((F.col("o_custkey") % 100).alias("c"),
                        (F.col("l_partkey") % 100).alias("i"))
               .agg(F.count(F.lit(1)).cast("double").alias("r")))
    y = ratings.select("i").distinct().select(
        "i", F.lit(1.0).alias("y1"),
        (F.expr("CAST(conv(substring(md5(CAST(i AS STRING)), 1, 2),"
                " 16, 10) AS INT) % 100") / F.lit(100.0)).alias("y2"))

    def sums(joined, key, f1, f2):
        d9 = lambda col: F.sum(F.round(col, 9).cast("decimal(20,9)")) \
            .cast("double")  # noqa: E731
        return joined.groupBy(key).agg(
            d9(F.col(f1) * F.col(f1)).alias("ga"),
            d9(F.col(f1) * F.col(f2)).alias("gb"),
            d9(F.col(f2) * F.col(f2)).alias("gc"),
            d9(F.col("r") * F.col(f1)).alias("v1"),
            d9(F.col("r") * F.col(f2)).alias("v2"))

    lam = F.lit(0.1)

    def solve(s):
        det = (F.col("ga") + lam) * (F.col("gc") + lam) \
            - F.col("gb") * F.col("gb")
        return s.select(
            s.columns[0],
            F.round(((F.col("gc") + lam) * F.col("v1")
                     - F.col("gb") * F.col("v2")) / det, 9).alias("f1"),
            F.round((F.lit(0.0) - F.col("gb") * F.col("v1")
                     + (F.col("ga") + lam) * F.col("v2")) / det, 9)
            .alias("f2"))

    x = solve(sums(ratings.join(y, "i"), "c", "y1", "y2"))
    ynew = solve(sums(
        ratings.join(x.withColumnRenamed("f1", "xf1")
                     .withColumnRenamed("f2", "xf2"), "c"),
        "i", "xf1", "xf2"))
    return ynew.select(F.col("i").alias("item"),
                       F.col("f1").alias("y1"), F.col("f2").alias("y2"))


@query("ivf_cell_balance", f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
  WHERE vec_id % 37 = 0
),
assign AS (
  SELECT vec_id, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY {_D2.format(a='embedding', b='cvec')},
                                     cid) AS crn
  FROM embeddings CROSS JOIN cents
),
occ AS (
  SELECT cid AS cell, COUNT(*) AS n_vecs
  FROM assign WHERE crn = 1 GROUP BY cid
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
         CAST(SUM(n_vecs) AS BIGINT) AS n_vecs_total,
         CAST(MAX(n_vecs) AS BIGINT) AS max_cell,
         ROUND(CAST(MAX(n_vecs) AS DOUBLE)
               / (CAST(SUM(n_vecs) AS DOUBLE) / COUNT(*)), 9)
           AS imbalance_factor
  FROM occ
),
empty AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_empty
  FROM cents c LEFT JOIN occ o ON o.cell = c.cid
  WHERE o.cell IS NULL
)
SELECT tot.*, empty.n_empty FROM tot CROSS JOIN empty
""")
def ivf_cell_balance(spark, sf_dir):
    """IVF index-HEALTH report: cell occupancy stats (count, max,
    imbalance = max/mean, empty cells) for the rule-based centroid set —
    the number an ANN operator checks before trusting n_probe math,
    since one mega-cell turns 'probe 2 of 54 cells' into 'scan half the
    corpus'. Same value-checked argmin assignment as
    sim_topk_ivf_rulebased (array_min over (d2, cid) structs — zero
    shuffle), then two report-sized rollups. The skewed-bucket analog of
    emb_bucket_histogram/skew_key_report for the IVF family."""
    from arangodb_java_parquet_spark.operators.dedup import spread
    from arangodb_java_parquet_spark.operators.similarity import (
        assign_cells)
    e = t(spark, sf_dir, "embeddings")
    cents = (e.filter(F.col("vec_id") % 37 == 0)
             .select(F.col("vec_id").alias("cid"),
                     F.col("embedding").alias("cvec")))
    # the argmin HOF (n_cents x dim interpreted mults per vector) runs in
    # the scan stage = ONE task per row group; spread the vectors first
    # (r15: 3.0 s -> 1.1 s, assignment is per-row so any partitioning
    # yields identical cells)
    cells = assign_cells(spread(e), cents,
                         id_col="vec_id", vec_col="embedding")
    occ = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vecs"))
    tot = occ.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum("n_vecs").cast("bigint").alias("n_vecs_total"),
        F.max("n_vecs").cast("bigint").alias("max_cell"),
        F.round(F.max("n_vecs").cast("double")
                / (F.sum("n_vecs").cast("double") / F.count(F.lit(1))), 9)
        .alias("imbalance_factor"))
    empty = (cents.join(occ, cents.cid == occ.cell, "left_anti")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_empty")))
    return tot.crossJoin(empty)


_RBO_P = 0.9
_RBO_TERMS = " + ".join(
    f"({_RBO_P ** d:.17g} * x{d + 1} / {d + 1}.0)" for d in range(5))


@query("sim_rbo_vs_exact", f"""
WITH b AS (
  SELECT vec_id, embedding,
         {srp_bucket_sql(SRP_BITS)} AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS qid, embedding AS qvec, bucket FROM b
      WHERE vec_id < 20),
exact_topk AS (
  SELECT qid, vid, rn FROM (
    SELECT q.qid, e.vec_id AS vid,
           ROW_NUMBER() OVER (PARTITION BY q.qid
                              ORDER BY {sql_cos('q.qvec', 'e.embedding')}
                                       DESC, e.vec_id) AS rn
    FROM embeddings e CROSS JOIN q WHERE q.qid != e.vec_id) WHERE rn <= 5
),
lsh_topk AS (
  SELECT qid, vid, rn FROM (
    SELECT q.qid, e.vec_id AS vid,
           ROW_NUMBER() OVER (PARTITION BY q.qid
                              ORDER BY {sql_cos('q.qvec', 'e.embedding')}
                                       DESC, e.vec_id) AS rn
    FROM b e JOIN q ON e.bucket = q.bucket WHERE q.qid != e.vec_id)
  WHERE rn <= 5
),
xs AS (
  SELECT x.qid,
         {', '.join(
             f'SUM(CASE WHEN x.rn <= {d} AND l.rn <= {d} '
             f'THEN 1 ELSE 0 END) AS x{d}' for d in (1, 2, 3, 4, 5))}
  FROM exact_topk x
  JOIN lsh_topk l ON l.qid = x.qid AND l.vid = x.vid
  GROUP BY x.qid
)
SELECT qid, CAST(x5 AS BIGINT) AS n_common_at_5,
       ROUND({1 - _RBO_P} * ({_RBO_TERMS}), 9) AS rbo_at_5
FROM xs
""")
def sim_rbo_vs_exact(spark, sf_dir):
    """RANK-BIASED OVERLAP of the LSH index against exact brute force —
    the rank-AWARE index-quality metric recall@k can't provide (Webber
    et al. 2010): RBO@5 = (1-p)·Σ p^(d-1)·|A_:d ∩ B_:d|/d with p=0.9
    weights agreement at the TOP of the list most, so an index that
    finds the right neighbors in the wrong order scores below one that
    ranks them correctly. Both rankings, their depth-prefix overlaps,
    and the weighted sum are computed in-engine and value-checked —
    the evaluation harness itself is cross-engine deterministic (the
    companion to sim_recall_at_k). Fixed-depth unroll keeps it one
    bounded join + one combinable agg per query id."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    exact = topk_cosine_bruteforce(q, e, id_col="vec_id",
                                   vec_col="embedding", k=5) \
        .select("qid", "vid", F.col("rn").alias("arn"))
    lsh = topk_cosine_lsh(q, e, id_col="vec_id", vec_col="embedding",
                          k=5) \
        .select(F.col("qid").alias("l_qid"), F.col("vid").alias("l_vid"),
                F.col("rn").alias("brn"))
    j = exact.join(lsh, (F.col("qid") == F.col("l_qid"))
                   & (F.col("vid") == F.col("l_vid")))
    xs = j.groupBy("qid").agg(*[
        F.sum(F.when((F.col("arn") <= d) & (F.col("brn") <= d), 1)
              .otherwise(0)).alias(f"x{d}") for d in (1, 2, 3, 4, 5)])
    terms = None
    for d in range(5):
        term = (F.lit(_RBO_P ** d) * F.col(f"x{d + 1}") / float(d + 1))
        terms = term if terms is None else terms + term
    return xs.select(
        "qid", F.col("x5").cast("bigint").alias("n_common_at_5"),
        F.round(F.lit(1 - _RBO_P) * terms, 9).alias("rbo_at_5"))


@query("emb_dimension_profile", """
SELECT u.i AS dim,
       CAST(SUM(CAST(embedding[u.i]::DOUBLE AS DECIMAL(30,8)))
            AS DOUBLE) / COUNT(*) AS dim_mean,
       (CAST(SUM(CAST(embedding[u.i]::DOUBLE * embedding[u.i]::DOUBLE
                      AS DECIMAL(30,8))) AS DOUBLE)
        - CAST(SUM(CAST(embedding[u.i]::DOUBLE AS DECIMAL(30,8)))
               AS DOUBLE)
          * CAST(SUM(CAST(embedding[u.i]::DOUBLE AS DECIMAL(30,8)))
                 AS DOUBLE) / COUNT(*)) / (COUNT(*) - 1) AS dim_var,
       MIN(embedding[u.i]::DOUBLE) AS dim_min,
       MAX(embedding[u.i]::DOUBLE) AS dim_max
FROM embeddings, (SELECT UNNEST(range(1, 65)) AS i) u
GROUP BY u.i
""")
def emb_dimension_profile(spark, sf_dir):
    """PER-DIMENSION health profile of the embedding corpus: mean /
    sample variance / min / max for each of the 64 dimensions — the
    feature-health table that catches dead dimensions (zero variance),
    unnormalized scales, and clipped activations before any index is
    fit (the tabular profile_orders_columns, for vectors). One
    posexplode + one combinable exact-decimal aggregation over (dim);
    64 output rows at any corpus size. Variance from exact moments
    (the cancellation-safe decimal formulation); min/max exact."""
    e = t(spark, sf_dir, "embeddings")
    x = (e.select(F.posexplode("embedding").alias("i0", "val"))
         .select((F.col("i0") + 1).alias("dim"),
                 F.col("val").cast("double").alias("v")))
    s = F.sum(F.col("v").cast("decimal(30,8)")).cast("double")
    ss = F.sum((F.col("v") * F.col("v")).cast("decimal(30,8)")) \
        .cast("double")
    n = F.count(F.lit(1))
    return (x.groupBy("dim")
            .agg((s / n).alias("dim_mean"),
                 ((ss - s * s / n) / (n - 1)).alias("dim_var"),
                 F.min("v").alias("dim_min"),
                 F.max("v").alias("dim_max")))


_PQ_RERANK_SHORTLIST = 20


def _pq_rerank_sql() -> str:
    # ADC shortlist (same construction as _PQ_ADC_SQL) -> exact rerank
    head = _PQ_ADC_SQL.rsplit("SELECT qid, vid, adc_dist, rn FROM (", 1)[0]
    return head.rstrip() + f""",
shortlist AS (
  SELECT qid, vid FROM (
    SELECT qid, vid,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY adc_dist, vid) AS rn
    FROM adc) WHERE rn <= {_PQ_RERANK_SHORTLIST}
),
rerank AS (
  SELECT s.qid, s.vid,
         {sql_cos('q.qvec', 'e.embedding')} AS cos_sim
  FROM shortlist s
  JOIN q ON q.qid = s.qid
  JOIN embeddings e ON e.vec_id = s.vid
)
SELECT qid, vid, cos_sim, rn FROM (
  SELECT qid, vid, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cos_sim DESC, vid) AS rn
  FROM rerank) WHERE rn <= 5
"""


@query("sim_topk_pq_rerank", _pq_rerank_sql())
def sim_topk_pq_rerank(spark, sf_dir):
    """TWO-STAGE RETRIEVAL — the production serving architecture every
    vector system uses (FAISS refine / ColBERT-style candidate rerank):
    the cheap quantized index (PQ-ADC over codes, no vectors touched)
    produces a {sl}-candidate shortlist, then ONLY those candidates are
    re-scored with exact full-precision cosine and cut to top-5. Fixes
    the quantization-error misordering ADC alone suffers, at the cost
    of |shortlist| exact distances per query instead of |corpus|. The
    rerank join fetches vectors for shortlist ids only — at 100 TB
    that is a k'-row broadcast-side lookup per query, not a corpus
    scan. Fully value-checked through both stages. Codes and codebook
    come from the SESSION-SHARED fit (_pq_fit_shared)."""
    from arangodb_java_parquet_spark.operators.similarity import (
        pq_adc_topk)
    e = t(spark, sf_dir, "embeddings")
    _cid, enc, cb = _pq_fit_shared(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 5)
    shortlist = pq_adc_topk(q, enc, cb, id_col="vec_id",
                            vec_col="embedding",
                            k=_PQ_RERANK_SHORTLIST).select("qid", "vid")
    qv = q.select(F.col("vec_id").alias("qid"),
                  F.col("embedding").alias("qvec"))
    cv = e.select(F.col("vec_id").alias("vid"),
                  F.col("embedding").alias("cvec"))
    rerank = (shortlist.join(F.broadcast(qv), "qid").join(cv, "vid")
              .select("qid", "vid",
                      F.round(dot(F.col("qvec"), F.col("cvec"))
                              / F.nullif(norm(F.col("qvec"))
                                         * norm(F.col("cvec")),
                                         F.lit(0.0)), 9)
                      .alias("cos_sim")))
    return (rerank.withColumn("rn", F.row_number().over(
                Window.partitionBy("qid").orderBy(F.desc("cos_sim"), "vid")))
            .filter(F.col("rn") <= 5)
            .select("qid", "vid", "cos_sim", "rn"))


@query("emb_hard_negatives", f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qvec, label AS qlab
           FROM embeddings WHERE vec_id < 20),
pairs AS (
  SELECT q.qid, e.vec_id AS vid, e.label AS vlab,
         {{cos}} AS cos_sim
  FROM embeddings e CROSS JOIN q
  WHERE e.label != q.qlab
)
SELECT qid, vid, vlab, cos_sim, rn FROM (
  SELECT qid, vid, vlab, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cos_sim DESC, vid) AS rn
  FROM pairs) WHERE rn <= 5
""".format(cos=sql_cos('q.qvec', 'e.embedding')))
def emb_hard_negatives(spark, sf_dir):
    """HARD-NEGATIVE MINING for contrastive training (DPR/SimCSE-style):
    per anchor, the top-5 most-similar vectors with a DIFFERENT label —
    the negatives that actually teach a contrastive model (random
    negatives are trivially separable). Label inequality is pushed
    below the scoring join so same-class pairs are never scored;
    deterministic (cosine desc, id) ranking. Brute-force scoring here
    (value-checkable); production swaps the scored pair source for the
    bucketed-LSH candidate stream with identical downstream shape."""
    e = t(spark, sf_dir, "embeddings")
    q = (e.filter(F.col("vec_id") < 20)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qvec"),
                 F.col("label").alias("qlab")))
    pairs = (e.crossJoin(F.broadcast(q))
             .filter(F.col("label") != F.col("qlab"))
             .select("qid", F.col("vec_id").alias("vid"),
                     F.col("label").alias("vlab"),
                     F.round(dot(F.col("qvec"), F.col("embedding"))
                             / F.nullif(norm(F.col("qvec"))
                                        * norm(F.col("embedding")),
                                        F.lit(0.0)), 9)
                     .alias("cos_sim")))
    return (pairs.withColumn("rn", F.row_number().over(
                Window.partitionBy("qid").orderBy(F.desc("cos_sim"), "vid")))
            .filter(F.col("rn") <= 5)
            .select("qid", "vid", "vlab", "cos_sim", "rn"))


def _rocchio_sql() -> str:
    # label centroids as exact per-(label, dim) decimal means; assignment
    # via rounded squared-L2 argmin with label tiebreak
    return """
WITH dims AS (SELECT UNNEST(range(1, 65)) AS i),
cent AS (
  SELECT label, d.i,
         CAST(SUM(CAST(embedding[d.i]::DOUBLE AS DECIMAL(30,8)))
              AS DOUBLE) / COUNT(*) AS m
  FROM embeddings CROSS JOIN dims d
  GROUP BY label, d.i
),
d2 AS (
  SELECT e.vec_id, e.label AS true_label, c.label AS cand,
         round(SUM(CAST(round((e.embedding[c.i]::DOUBLE - c.m)
                              * (e.embedding[c.i]::DOUBLE - c.m), 9)
                        AS DECIMAL(30,9)))::DOUBLE, 9) AS dist2
  FROM embeddings e CROSS JOIN cent c
  GROUP BY e.vec_id, e.label, c.label
),
assigned AS (
  SELECT vec_id, true_label, cand AS pred_label FROM (
    SELECT vec_id, true_label, cand,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY dist2, cand) AS rn
    FROM d2) WHERE rn = 1
)
SELECT true_label, pred_label, COUNT(*) AS n
FROM assigned GROUP BY 1, 2
"""


@query("rocchio_nearest_centroid", _rocchio_sql())
def rocchio_nearest_centroid(spark, sf_dir):
    """NEAREST-CENTROID (Rocchio) classification in-engine, reported as
    a confusion matrix vs the true labels — the zero-hyperparameter
    baseline every embedding-quality audit starts with (and the
    assignment step k-means/SemDeDup already verify, here with FITTED
    per-label centroids instead of rule codebooks). Centroids are exact
    per-(label, dim) decimal means (one combinable pass); assignment
    joins each vector against the bounded label x dim centroid table
    and takes the round-9 squared-L2 argmin with a label tiebreak; the
    confusion rollup is one combinable count. Everything cross-engine
    deterministic, no collect of vectors."""
    from arangodb_java_parquet_spark.operators.dedup import spread
    e = t(spark, sf_dir, "embeddings")
    # spread: the 64-way posexplode runs in the one-task scan stage;
    # materialize: x feeds BOTH the centroid means and the distance agg
    # (the broadcast(cent) subtree re-derives the explode otherwise) — r15
    x = (spread(e).select("vec_id", "label",
                          F.posexplode("embedding").alias("i0", "v"))
         .select("vec_id", F.col("label").alias("true_label"),
                 (F.col("i0") + 1).alias("i"),
                 F.col("v").cast("double").alias("v"))
         .transform(materialize))
    cent = (x.groupBy(F.col("true_label").alias("cand"), "i")
            .agg((F.sum(F.col("v").cast("decimal(30,8)")).cast("double")
                  / F.count(F.lit(1))).alias("m")))
    d2 = (x.join(F.broadcast(cent), "i")
          .groupBy("vec_id", "true_label", "cand")
          .agg(F.round(F.sum(
              F.round((F.col("v") - F.col("m"))
                      * (F.col("v") - F.col("m")), 9)
              .cast("decimal(30,9)")).cast("double"), 9).alias("dist2")))
    assigned = (d2.withColumn("rn", F.row_number().over(
                    Window.partitionBy("vec_id")
                    .orderBy("dist2", "cand")))
                .filter(F.col("rn") == 1))
    return (assigned.groupBy("true_label",
                             F.col("cand").alias("pred_label"))
            .agg(F.count(F.lit(1)).alias("n")))


# ---------------------------------------------------------------------------
# MMR diversified top-k retrieval (round 7)
# ---------------------------------------------------------------------------

# lambda = 7/10 written as exact integer ratios so both engines derive the
# identical double at query time (bare 0.7 parses as DECIMAL in DuckDB)
_MMR_LAM = "(CAST(7 AS DOUBLE) / CAST(10 AS DOUBLE))"
_MMR_ONE_MINUS = "(CAST(3 AS DOUBLE) / CAST(10 AS DOUBLE))"
_MMR_SHORTLIST = 10
_MMR_QUERY_VEC = 0

_MMR_SQL = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings
           WHERE vec_id = {_MMR_QUERY_VEC}),
rel AS (
  SELECT e.vec_id AS vid, e.embedding,
         {sql_cos('q.qv', 'e.embedding')} AS rel
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != {_MMR_QUERY_VEC}
),
short AS (
  SELECT vid, embedding, rel FROM (
    SELECT *, ROW_NUMBER() OVER (ORDER BY rel DESC, vid) AS rn FROM rel
  ) WHERE rn <= {_MMR_SHORTLIST}
),
ps AS (
  SELECT a.vid AS va, b.vid AS vb,
         {sql_cos('a.embedding', 'b.embedding')} AS sim
  FROM short a JOIN short b ON a.vid != b.vid
),
s1 AS (SELECT vid, rel FROM short ORDER BY rel DESC, vid LIMIT 1),
c2 AS (
  SELECT s.vid, {_MMR_LAM} * s.rel - {_MMR_ONE_MINUS} * p.sim AS score
  FROM short s JOIN ps p
    ON p.va = s.vid AND p.vb = (SELECT vid FROM s1)
),
s2 AS (SELECT vid, score FROM c2 ORDER BY score DESC, vid LIMIT 1),
c3 AS (
  SELECT s.vid,
         {_MMR_LAM} * s.rel
           - {_MMR_ONE_MINUS} * GREATEST(p1.sim, p2.sim) AS score
  FROM short s
  JOIN ps p1 ON p1.va = s.vid AND p1.vb = (SELECT vid FROM s1)
  JOIN ps p2 ON p2.va = s.vid AND p2.vb = (SELECT vid FROM s2)
),
s3 AS (SELECT vid, score FROM c3 ORDER BY score DESC, vid LIMIT 1)
SELECT 1 AS rank, vid, rel AS mmr_score FROM s1
UNION ALL SELECT 2 AS rank, vid, score FROM s2
UNION ALL SELECT 3 AS rank, vid, score FROM s3
"""


@query("sim_mmr_diversified_topk", _MMR_SQL)
def sim_mmr_diversified_topk(spark, sf_dir):
    """Maximal Marginal Relevance diversified retrieval (Carbonell &
    Goldstein, SIGIR 1998): after a cosine shortlist, picks are made
    greedily by score = lam*relevance - (1-lam)*max-similarity-to-already-
    selected — the standard redundancy-killer for RAG context assembly
    (three near-identical passages waste two context slots). Three
    selection rounds unrolled as deterministic argmax stages (score desc,
    vid tiebreak), lam = 7/10 as an exact integer ratio on both engines.

    Scale: the corpus-sized work is ONE brute-force scan for the
    shortlist (broadcast query, no corpus shuffle — same shape as
    sim_topk_bruteforce; swap in the stored-IVF probe for serving); the
    MMR rounds then operate on the {_MMR_SHORTLIST}-row shortlist and its
    {_MMR_SHORTLIST}x{_MMR_SHORTLIST} pairwise-sim table — driver-scale
    work, independent of corpus size, joined via 1-row broadcasts."""
    e = t(spark, sf_dir, "embeddings")
    q = (e.filter(F.col("vec_id") == _MMR_QUERY_VEC)
         .select(F.col("embedding").alias("qv"),
                 norm(F.col("embedding")).alias("qn")))
    corpus = (e.filter(F.col("vec_id") != _MMR_QUERY_VEC)
              .withColumn("nrm", norm(F.col("embedding"))))
    rel = (corpus.crossJoin(F.broadcast(q))
           .select(F.col("vec_id").alias("vid"), "embedding", "nrm",
                   F.round(dot(F.col("embedding"), F.col("qv"))
                           / F.nullif(F.col("nrm") * F.col("qn"),
                                      F.lit(0.0)), 9).alias("rel")))
    # top-k via orderBy+limit (TakeOrderedAndProject: per-partition heaps,
    # no single-partition shuffle of the corpus — an unpartitioned
    # row_number Window would funnel every embedding row through one task)
    # the shortlist feeds FIVE consumers (both pairwise-sim sides, s1,
    # and the two re-score stages): materialize the 10 rows once, or
    # every consumer re-runs the corpus brute-force scan (measured
    # 0.98 -> 1.9 s drift at sf0.1).
    short = (rel.orderBy(F.desc("rel"), "vid").limit(_MMR_SHORTLIST)
             .select("vid", "embedding", "nrm", "rel")
             .transform(materialize))
    sa = short.select(F.col("vid").alias("va"),
                      F.col("embedding").alias("ea"),
                      F.col("nrm").alias("na"))
    sb = short.select(F.col("vid").alias("vb"),
                      F.col("embedding").alias("eb"),
                      F.col("nrm").alias("nb"))
    ps = (sa.join(sb, F.col("va") != F.col("vb"))
          .select("va", "vb",
                  F.round(dot(F.col("ea"), F.col("eb"))
                          / F.nullif(F.col("na") * F.col("nb"),
                                     F.lit(0.0)), 9).alias("sim"))
          .transform(materialize))  # 90 rows, 3 consumers
    lam = F.lit(7.0) / F.lit(10.0)
    om = F.lit(3.0) / F.lit(10.0)

    s1 = (short.orderBy(F.desc("rel"), "vid").limit(1)
          .select(F.col("vid").alias("sel1"), F.col("rel").alias("score1")))
    c2 = (short.crossJoin(F.broadcast(s1))
          .join(ps, (ps["va"] == F.col("vid"))
                & (ps["vb"] == F.col("sel1")))
          .select("vid", (lam * F.col("rel") - om * F.col("sim"))
                  .alias("score")))
    s2 = (c2.orderBy(F.desc("score"), "vid").limit(1)
          .select(F.col("vid").alias("sel2"), F.col("score").alias("score2")))
    p1 = ps.select(F.col("va").alias("v1"), F.col("vb").alias("w1"),
                   F.col("sim").alias("sim1"))
    p2 = ps.select(F.col("va").alias("v2"), F.col("vb").alias("w2"),
                   F.col("sim").alias("sim2"))
    c3 = (short.crossJoin(F.broadcast(s1)).crossJoin(F.broadcast(s2))
          .join(p1, (F.col("v1") == F.col("vid"))
                & (F.col("w1") == F.col("sel1")))
          .join(p2, (F.col("v2") == F.col("vid"))
                & (F.col("w2") == F.col("sel2")))
          .select("vid",
                  (lam * F.col("rel")
                   - om * F.greatest(F.col("sim1"), F.col("sim2")))
                  .alias("score")))
    s3 = (c3.orderBy(F.desc("score"), "vid").limit(1)
          .select(F.col("vid").alias("sel3"), F.col("score").alias("score3")))
    r1 = s1.select(F.lit(1).alias("rank"), F.col("sel1").alias("vid"),
                   F.col("score1").alias("mmr_score"))
    r2 = s2.select(F.lit(2).alias("rank"), F.col("sel2").alias("vid"),
                   F.col("score2").alias("mmr_score"))
    r3 = s3.select(F.lit(3).alias("rank"), F.col("sel3").alias("vid"),
                   F.col("score3").alias("mmr_score"))
    return r1.unionAll(r2).unionAll(r3)


# ---------------------------------------------------------------------------
# kNN-distance outlier scoring (round 7)
# ---------------------------------------------------------------------------

_KNNO_K = 5
_KNNO_TOP = 20
# per-bucket CANDIDATE cap: every vector scores against at most this many
# in-bucket candidates (first by vec_id — deterministic in any engine), so
# the bucket join is O(n_bucket * cap), never O(n_bucket^2). Added after
# the round-9 scale probe measured exponent 1.86 on the uncapped join
# (replicas multiply bucket sizes; 16 SRP buckets made pair count
# quadratic). Same bounded-candidate contract as lsh_candidate_pairs_capped.
_KNNO_CAND = 64

_KNNO_SQL = f"""
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
  ) WHERE crn <= {_KNNO_CAND}
),
pairs AS (
  SELECT a.vec_id AS vid, b.vec_id AS nid,
         1e0 - {sql_cos('a.embedding', 'b.embedding')} AS dist
  FROM b a JOIN cand b ON a.bucket = b.bucket AND a.vec_id != b.vec_id
),
ranked AS (
  SELECT vid, nid, dist,
         ROW_NUMBER() OVER (PARTITION BY vid ORDER BY dist ASC, nid) AS rn
  FROM pairs
),
scores AS (
  SELECT vid,
         CAST(SUM(CAST(ROUND(dist, 9) AS DECIMAL(30,9))) AS DOUBLE)
           / {_KNNO_K} AS mean_knn_dist
  FROM ranked WHERE rn <= {_KNNO_K}
  GROUP BY vid
  HAVING COUNT(*) = {_KNNO_K}
)
SELECT vid, mean_knn_dist, outlier_rank
FROM (
  SELECT vid, mean_knn_dist,
         ROW_NUMBER() OVER (ORDER BY mean_knn_dist DESC, vid)
           AS outlier_rank
  FROM scores
) WHERE outlier_rank <= {_KNNO_TOP}
"""


@query("emb_knn_outlier_score", _KNNO_SQL)
def emb_knn_outlier_score(spark, sf_dir):
    """kNN-DISTANCE outlier detection (Ramaswamy et al., SIGMOD 2000):
    a vector's outlier score is its mean cosine distance to its
    {_KNNO_K} nearest neighbors — embeddings far from everything are
    mislabeled/garbage/OOD candidates, the embedding-space quality
    screen run before training on scraped corpora. Neighbors come from
    the SRP-LSH bucket join against a per-bucket candidate shortlist of
    {_KNNO_CAND} (the approximate-kNN contract shared with
    emb_near_dup_pairs and lsh_candidate_pairs_capped: no all-pairs
    cross product, no quadratic bucket joins — the round-9 scale probe
    measured exponent 1.86 uncapped, 16 buckets make pair counts
    quadratic in corpus size; vectors with fewer than {_KNNO_K}
    in-bucket candidates are not scored). Top {_KNNO_TOP} by
    (score desc, vid) with round-9 distances; the shortlist is
    TakeOrdered (orderBy+limit), not an unpartitioned window."""
    e = t(spark, sf_dir, "embeddings")
    b = (e.select("vec_id", "embedding",
                  srp_bucket(F.col("embedding"), SRP_BITS).alias("bucket"))
         .withColumn("nrm", norm(F.col("embedding"))))
    wc = Window.partitionBy("bucket").orderBy("vec_id")
    cand = (b.withColumn("crn", F.row_number().over(wc))
            .filter(F.col("crn") <= _KNNO_CAND).drop("crn"))
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
    wr = Window.partitionBy("vid").orderBy(F.asc("dist"), "nid")
    scores = (pairs.withColumn("rn", F.row_number().over(wr))
              .filter(F.col("rn") <= _KNNO_K)
              .groupBy("vid")
              .agg((F.sum(F.round(F.col("dist"), 9).cast("decimal(30,9)"))
                    .cast("double") / _KNNO_K).alias("mean_knn_dist"),
                   F.count(F.lit(1)).alias("n"))
              .filter(F.col("n") == _KNNO_K).drop("n"))
    # top-k via TakeOrderedAndProject (per-partition heaps), THEN the
    # rank window over only the surviving _KNNO_TOP rows
    shortlist = scores.orderBy(F.desc("mean_knn_dist"), "vid") \
        .limit(_KNNO_TOP)
    wo = Window.orderBy(F.desc("mean_knn_dist"), "vid")
    return shortlist.withColumn("outlier_rank", F.row_number().over(wo))


# ---------------------------------------------------------------------------
# clustering evaluation: purity + NMI vs labels (round 7)
# ---------------------------------------------------------------------------

def _kmeans_purity_sql() -> str:
    base = _kmeans_sql()
    final = f"""
SELECT c.cid, c.cx, c.cy, COUNT(a.vec_id) AS n_points
FROM c{_KM_ROUNDS} c
LEFT JOIN a{_KM_ROUNDS} a ON a.cid = c.cid
GROUP BY c.cid, c.cx, c.cy"""
    assert final in base
    return base.replace(final, f""",
asg AS (
  SELECT a.vec_id, a.cid, e.label
  FROM a{_KM_ROUNDS} a JOIN embeddings e ON e.vec_id = a.vec_id
),
cont AS (SELECT cid, label, COUNT(*) AS n FROM asg GROUP BY 1, 2),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM cont),
crow AS (SELECT cid, CAST(SUM(n) AS BIGINT) AS nc FROM cont GROUP BY cid),
lrow AS (SELECT label, CAST(SUM(n) AS BIGINT) AS nl FROM cont GROUP BY label),
pure AS (
  SELECT CAST(SUM(mx) AS BIGINT) AS pure_n
  FROM (SELECT cid, MAX(n) AS mx FROM cont GROUP BY cid)
),
mi AS (
  SELECT CAST(SUM(CAST(ROUND(
           (c.n / CAST(t.nt AS DOUBLE))
             * LN((c.n * CAST(t.nt AS DOUBLE)) / (cr.nc * CAST(lr.nl AS DOUBLE))),
           9) AS DECIMAL(30,9))) AS DOUBLE) AS mi
  FROM cont c
  JOIN crow cr ON cr.cid = c.cid
  JOIN lrow lr ON lr.label = c.label
  CROSS JOIN tot t
),
hc AS (
  SELECT CAST(SUM(CAST(ROUND(
           -(nc / CAST(t.nt AS DOUBLE)) * LN(nc / CAST(t.nt AS DOUBLE)),
           9) AS DECIMAL(30,9))) AS DOUBLE) AS hc
  FROM crow CROSS JOIN tot t
),
hl AS (
  SELECT CAST(SUM(CAST(ROUND(
           -(nl / CAST(t.nt AS DOUBLE)) * LN(nl / CAST(t.nt AS DOUBLE)),
           9) AS DECIMAL(30,9))) AS DOUBLE) AS hl
  FROM lrow CROSS JOIN tot t
)
SELECT t.nt AS n_points, p.pure_n,
       p.pure_n / CAST(t.nt AS DOUBLE) AS purity,
       m.mi / sqrt(h1.hc * h2.hl) AS nmi
FROM tot t CROSS JOIN pure p CROSS JOIN mi m
CROSS JOIN hc h1 CROSS JOIN hl h2""")


@query("kmeans_cluster_purity_nmi", _kmeans_purity_sql())
def kmeans_cluster_purity_nmi(spark, sf_dir):
    """CLUSTERING EVALUATION in-engine: purity (share of points whose
    cluster's majority label is theirs) and normalized mutual
    information sqrt-NMI between the value-checked k-means assignment
    and the embedding labels — the two standard external cluster-quality
    metrics, computed over the K x L contingency table (combinable
    counts; K*L rows of downstream work regardless of corpus size).
    MI/entropy terms are round-9 exact-decimal sums of integer-ratio
    logs; the final nmi is a plain division of identically-derived
    doubles. Reuses the SAME Lloyd template as kmeans_fixed_rounds on
    both engines (one implementation, two consumers)."""
    e = t(spark, sf_dir, "embeddings")
    assign, _ = _kmeans_assign(e)
    asg = (assign.select("vec_id", "cid")
           .join(e.select("vec_id", "label"), "vec_id"))
    cont = (asg.groupBy("cid", "label")
            .agg(F.count(F.lit(1)).alias("n"))
            .transform(materialize))
    # total count as a LAZY broadcast scalar (was an eager .collect()
    # that ran the whole k-means + contingency lineage as a separate
    # job before the real one — r15)
    ntrow = cont.agg(F.sum("n").cast("bigint").alias("__nt"))
    # the contingency marginals are K- and L-row tables consumed twice
    # (entropy legs + the MI join) — materialize them and broadcast the
    # MI-side joins so neither re-derives nor shuffles (r8 VERDICT item 4)
    crow = (cont.groupBy("cid").agg(F.sum("n").cast("bigint").alias("nc"))
            .transform(materialize))
    lrow = (cont.groupBy("label")
            .agg(F.sum("n").cast("bigint").alias("nl"))
            .transform(materialize))
    pure_n = (cont.groupBy("cid").agg(F.max("n").alias("mx"))
              .agg(F.sum("mx").cast("bigint").alias("pure_n")))

    def rdsum9(c):
        return F.sum(F.round(c, 9).cast("decimal(30,9)")).cast("double")

    ntd = F.col("__nt").cast("double")
    mi_term = ((F.col("n") / ntd)
               * F.log((F.col("n") * ntd)
                       / (F.col("nc") * F.col("nl").cast("double"))))
    mi = (cont.join(F.broadcast(crow), "cid")
          .join(F.broadcast(lrow), "label")
          .crossJoin(F.broadcast(ntrow))
          .agg(rdsum9(mi_term).alias("mi")))
    hc = (crow.crossJoin(F.broadcast(ntrow))
          .agg(rdsum9(-(F.col("nc") / ntd)
                      * F.log(F.col("nc") / ntd)).alias("hc")))
    hl = (lrow.crossJoin(F.broadcast(ntrow))
          .agg(rdsum9(-(F.col("nl") / ntd)
                      * F.log(F.col("nl") / ntd)).alias("hl")))
    return (pure_n.crossJoin(F.broadcast(ntrow))
            .crossJoin(F.broadcast(mi))
            .crossJoin(F.broadcast(hc)).crossJoin(F.broadcast(hl))
            .select(F.col("__nt").alias("n_points"),
                    "pure_n",
                    (F.col("pure_n") / ntd).alias("purity"),
                    (F.col("mi") / F.sqrt(F.col("hc") * F.col("hl")))
                    .alias("nmi")))


# ---------------------------------------------------------------------------
# Greedy k-center coreset selection (Gonzalez 1985), value-checked (round 9)
# ---------------------------------------------------------------------------

_KC_K = 8


def _kcenter_sql() -> str:
    dd = "ROUND((p.x - s.sx) * (p.x - s.sx) + (p.y - s.sy) * (p.y - s.sy), 9)"
    parts = [f"""WITH pts AS (
  SELECT vec_id, ROUND(embedding[1]::DOUBLE, 9) AS x,
         ROUND(embedding[2]::DOUBLE, 9) AS y
  FROM embeddings
),
s1 AS (
  SELECT vec_id AS sel_id, x AS sx, y AS sy, 1 AS ord
  FROM pts ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1
)"""]
    for r in range(2, _KC_K + 1):
        parts.append(f""",
m{r} AS (
  SELECT p.vec_id, p.x, p.y, MIN({dd}) AS mind
  FROM pts p CROSS JOIN s{r - 1} s
  GROUP BY p.vec_id, p.x, p.y
),
s{r} AS (
  SELECT * FROM s{r - 1}
  UNION ALL
  SELECT vec_id AS sel_id, x AS sx, y AS sy, {r} AS ord FROM (
    SELECT vec_id, x, y,
           ROW_NUMBER() OVER (ORDER BY mind DESC, vec_id) AS rn
    FROM m{r}
  ) WHERE rn = 1
)""")
    parts.append(f""",
asg AS (
  SELECT vec_id, ord, dd FROM (
    SELECT p.vec_id, s.ord, {dd} AS dd,
           ROW_NUMBER() OVER (PARTITION BY p.vec_id
                              ORDER BY {dd} ASC, s.ord ASC) AS rn
    FROM pts p CROSS JOIN s{_KC_K} s
  ) WHERE rn = 1
)
SELECT s.ord, s.sel_id, s.sx, s.sy,
       CAST(COUNT(a.vec_id) AS BIGINT) AS n_assigned,
       MAX(a.dd) AS radius_sq
FROM s{_KC_K} s LEFT JOIN asg a ON a.ord = s.ord
GROUP BY s.ord, s.sel_id, s.sx, s.sy""")
    return "".join(parts)


@query("coreset_kcenter_greedy", _kcenter_sql())
def coreset_kcenter_greedy(spark, sf_dir):
    """Greedy k-center coreset selection (Gonzalez 1985, the 2-approx
    farthest-first traversal) — the geometric coreset primitive for
    training-data selection: pick K=8 maximally spread exemplars, then
    report each center's cell size and radius (the covering guarantee).

    Fully VALUE-CHECKED like kmeans_fixed_rounds: md5-ranked seed,
    per-round farthest point via (round-9 min-distance DESC, vec_id)
    ranking, 2-D features so the chained-CTE oracle stays tractable. K is
    a compile-time constant generating both engines' stages from one
    template.

    Scale: each round is ONE corpus scan cross-joined with the <=K-row
    broadcast center table, a combinable per-point MIN, and a
    TakeOrdered(1) — no driver collect of anything but the plan. The
    center table is materialize(..., "iter")-truncated every round:
    s_r references s_{r-1} twice (carry + candidate pool), so without
    truncation the logical plan doubles per round (2^K leaf scans by
    round 8 — Catalyst analysis, not execution, becomes the bottleneck);
    with it the per-round plan is flat and the full fit is O(K) scans.
    On degenerate corpora where every point coincides, later rounds
    re-pick the smallest vec_id; distinct inputs (any real embedding
    table) always select K distinct exemplars."""
    e = t(spark, sf_dir, "embeddings")
    pts = e.select(
        "vec_id",
        F.round(F.col("embedding").getItem(0).cast("double"), 9).alias("x"),
        F.round(F.col("embedding").getItem(1).cast("double"), 9).alias("y"))

    def dd_expr():
        return F.round((F.col("x") - F.col("sx")) * (F.col("x") - F.col("sx"))
                       + (F.col("y") - F.col("sy"))
                       * (F.col("y") - F.col("sy")), 9)

    # orderBy+limit, not a global row_number window: TakeOrdered runs
    # per-partition heaps instead of funneling the corpus into one task
    s = (pts.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
         .limit(1)
         .select(F.col("vec_id").alias("sel_id"), F.col("x").alias("sx"),
                 F.col("y").alias("sy"), F.lit(1).alias("ord")))
    for r in range(2, _KC_K + 1):
        m = (pts.crossJoin(F.broadcast(s))
             .groupBy("vec_id", "x", "y")
             .agg(F.min(dd_expr()).alias("mind")))
        pick = (m.orderBy(F.desc("mind"), "vec_id").limit(1)
                .select(F.col("vec_id").alias("sel_id"),
                        F.col("x").alias("sx"), F.col("y").alias("sy"),
                        F.lit(r).alias("ord")))
        s = s.unionByName(pick).transform(materialize, "iter")

    asg = (pts.crossJoin(F.broadcast(s))
           .withColumn("dd", dd_expr())
           .withColumn("rn", F.row_number().over(
               Window.partitionBy("vec_id")
               .orderBy(F.col("dd").asc(), F.col("ord").asc())))
           .filter(F.col("rn") == 1)
           .select("vec_id", "ord", "dd"))
    return (s.join(asg, "ord", "left")
            .groupBy("ord", "sel_id", "sx", "sy")
            .agg(F.count("vec_id").cast("bigint").alias("n_assigned"),
                 F.max("dd").alias("radius_sq")))


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion of two retrieval runs (round 9)
# ---------------------------------------------------------------------------

_RRF_C = 60          # the standard RRF constant (Cormack et al. 2009)
_RRF_RUN_K = 20      # depth of each input run
_RRF_OUT_K = 10

_RRF_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding,
         {srp_bucket_sql(SRP_BITS)} AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS qid, embedding AS qvec, bucket FROM b
      WHERE vec_id < 5),
pe AS (
  SELECT q.qid, e.vec_id AS vid,
         {sql_cos('q.qvec', 'e.embedding')} AS cos_sim
  FROM embeddings e CROSS JOIN q
  WHERE q.qid != e.vec_id
),
re AS (
  SELECT qid, vid, rn AS ra FROM (
    SELECT qid, vid, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY cos_sim DESC, vid) AS rn
    FROM pe
  ) WHERE rn <= {_RRF_RUN_K}
),
pl AS (
  SELECT q.qid, e.vec_id AS vid,
         {sql_cos('q.qvec', 'e.embedding')} AS cos_sim
  FROM b e JOIN q ON e.bucket = q.bucket
  WHERE q.qid != e.vec_id
),
rl AS (
  SELECT qid, vid, rn AS rb FROM (
    SELECT qid, vid, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY cos_sim DESC, vid) AS rn
    FROM pl
  ) WHERE rn <= {_RRF_RUN_K}
),
f AS (
  SELECT COALESCE(re.qid, rl.qid) AS qid,
         COALESCE(re.vid, rl.vid) AS vid,
         CAST(COALESCE(1000000000 // ({_RRF_C} + ra), 0)
              + COALESCE(1000000000 // ({_RRF_C} + rb), 0)
              AS BIGINT) AS rrf_e9
  FROM re FULL OUTER JOIN rl ON re.qid = rl.qid AND re.vid = rl.vid
)
SELECT qid, vid, rrf_e9, fused_rank FROM (
  SELECT qid, vid, rrf_e9,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY rrf_e9 DESC, vid) AS fused_rank
  FROM f
) WHERE fused_rank <= {_RRF_OUT_K}
"""


@query("sim_rrf_fusion", _RRF_SQL)
def sim_rrf_fusion(spark, sf_dir):
    """Reciprocal-rank fusion (Cormack et al. 2009) of two retrieval
    runs — exact cosine top-20 and SRP-LSH bucketed top-20 — into one
    top-10: score(d) = sum over runs of 1/(60 + rank_run(d)). The
    standard zero-training ensemble for hybrid retrieval (dense + sparse
    or exact + ANN); a document missing from a run contributes 0.

    Determinism: ranks are integers, and each reciprocal is computed in
    integer 1e-9 units (1e9 DIV (60+rank)), so fused scores are exact
    BIGINTs — no float anywhere. Scale: fusion is a |Q|*k full-outer
    self-join of two already-tiny rank tables; the heavy lifting stays
    in the underlying retrievers, which are the existing broadcast /
    bucket-join plans."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    ra = (topk_cosine_bruteforce(q, e, id_col="vec_id",
                                 vec_col="embedding", k=_RRF_RUN_K)
          .select("qid", "vid", F.col("rn").alias("ra")))
    rb = (topk_cosine_lsh(q, e, id_col="vec_id", vec_col="embedding",
                          k=_RRF_RUN_K)
          .select("qid", "vid", F.col("rn").alias("rb")))
    contrib_a = F.expr(f"CAST(1000000000 AS BIGINT) DIV ({_RRF_C} + ra)")
    contrib_b = F.expr(f"CAST(1000000000 AS BIGINT) DIV ({_RRF_C} + rb)")
    fused = (ra.join(rb, ["qid", "vid"], "full_outer")
             .select("qid", "vid",
                     (F.coalesce(contrib_a, F.lit(0))
                      + F.coalesce(contrib_b, F.lit(0)))
                     .cast("bigint").alias("rrf_e9")))
    w = Window.partitionBy("qid").orderBy(F.desc("rrf_e9"), "vid")
    return (fused.withColumn("fused_rank", F.row_number().over(w))
            .filter(F.col("fused_rank") <= _RRF_OUT_K))


# ---------------------------------------------------------------------------
# anisotropy score (round 9d): mean pairwise cosine via the mean vector
# ---------------------------------------------------------------------------

@query("emb_anisotropy_score", f"""
WITH nv AS (
  SELECT embedding, sqrt({SQL_DOT.format(a='embedding', b='embedding')}) AS nrm
  FROM embeddings
),
dims AS (
  SELECT u.i AS dim,
         CAST(SUM(CAST(ROUND(embedding[u.i]::DOUBLE / nrm, 9)
                       AS DECIMAL(20,9))) AS DOUBLE) AS s_i,
         CAST(COUNT(*) AS BIGINT) AS nn
  FROM nv, (SELECT UNNEST(range(1, 65)) AS i) u
  WHERE nrm > 0
  GROUP BY u.i
),
q AS (
  SELECT CAST(MAX(nn) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND((s_i / nn) * (s_i / nn), 9)
                       AS DECIMAL(20,9))) AS DOUBLE) AS sq
  FROM dims
)
SELECT n AS n_vectors,
       sqrt(sq) AS mean_vec_norm,
       CASE WHEN n > 1
            THEN (CAST(n AS DOUBLE) * n * sq - n)
                 / (CAST(n AS DOUBLE) * (n - 1))
            ELSE CAST(0 AS DOUBLE) END AS mean_pairwise_cosine
FROM q
""")
def emb_anisotropy_score(spark, sf_dir):
    """ANISOTROPY of the embedding space (Ethayarajh 2019; Mu &
    Viswanath 2018): the expected cosine between two distinct corpus
    vectors — near 0 for an isotropic (directionally uniform) space,
    large when a common dominant direction inflates all similarities
    (the pathology that post-processing like mean-removal fixes, and
    the reason raw-cosine near-dup thresholds drift between embedding
    models). Computed WITHOUT any pair join via the mean-vector
    identity over unit vectors: sum_{{i != j}} cos(u_i, u_j)
    = ||sum u||^2 - n, so mean pairwise cosine
    = (n^2 ||mean u||^2 - n) / (n (n-1)).

    One per-dimension combinable aggregation (the emb_dimension_profile
    shape: 64 groups at any corpus size) plus a 64-row rollup — O(n)
    where the naive definition is O(n^2). Determinism: unit components
    round-9 into exact decimal sums; per-dim means are single IEEE
    divisions; the 64-term square sum is round-9 fenced; the final
    identity is a product/difference of identical doubles."""
    e = t(spark, sf_dir, "embeddings")
    # Materialize (embedding, nrm) BEFORE the explode: projection
    # collapse otherwise folds the interpreted HOF norm into the
    # per-exploded-row projection and evaluates it 64x per vector
    # (measured 52 s -> ~3 s at sf0.01; the CLAUDE.md HOF-collapse trap).
    nv = (e.select("embedding", norm(F.col("embedding")).alias("nrm"))
          .filter(F.col("nrm") > 0)
          .transform(materialize))
    x = nv.select((F.posexplode("embedding")).alias("i0", "val"),
                  F.col("nrm"))
    dims = (x.groupBy((F.col("i0") + 1).alias("dim"))
            .agg(F.sum(F.round(F.col("val").cast("double") / F.col("nrm"),
                               9).cast("decimal(20,9)"))
                 .cast("double").alias("s_i"),
                 F.count(F.lit(1)).cast("bigint").alias("nn")))
    mi = F.col("s_i") / F.col("nn")
    q = dims.agg(
        F.max("nn").cast("bigint").alias("n"),
        F.sum(F.round(mi * mi, 9).cast("decimal(20,9)")).cast("double")
        .alias("sq"))
    nd = F.col("n").cast("double")
    return q.select(
        F.col("n").alias("n_vectors"),
        F.sqrt(F.col("sq")).alias("mean_vec_norm"),
        F.when(F.col("n") > 1,
               (nd * F.col("n") * F.col("sq") - F.col("n"))
               / (nd * (F.col("n") - 1)))
        .otherwise(F.lit(0).cast("double")).alias("mean_pairwise_cosine"))


# ---------------------------------------------------------------------------
# coordinate effective rank (round 9f)
# ---------------------------------------------------------------------------

@query("emb_effective_rank", """
WITH dims AS (
  SELECT u.i AS dim,
         CAST(COUNT(*) AS BIGINT) AS n,
         ROUND((CAST(SUM(CAST(ROUND(embedding[u.i]::DOUBLE
                                    * embedding[u.i]::DOUBLE, 9)
                              AS DECIMAL(20,9))) AS DOUBLE)
                - CAST(SUM(CAST(ROUND(embedding[u.i]::DOUBLE, 9)
                               AS DECIMAL(20,9))) AS DOUBLE)
                  * CAST(SUM(CAST(ROUND(embedding[u.i]::DOUBLE, 9)
                                 AS DECIMAL(20,9))) AS DOUBLE)
                  / COUNT(*)) / (COUNT(*) - 1), 9) AS v
  FROM embeddings, (SELECT UNNEST(range(1, 65)) AS i) u
  GROUP BY u.i
),
tv AS (
  SELECT MAX(n) AS n,
         CAST(COUNT(*) AS BIGINT) AS n_dims,
         CAST(SUM(CAST(v AS DECIMAL(20,9))) AS DOUBLE) AS tot_var,
         CAST(SUM(CAST(ROUND(v * v, 9) AS DECIMAL(20,9))) AS DOUBLE)
           AS sq_var,
         MAX(v) AS max_var
  FROM dims
),
ent AS (
  SELECT CAST(SUM(CAST(ROUND(
           CASE WHEN d.v > 0
                THEN 0 - (d.v / t.tot_var) * LN(d.v / t.tot_var)
                ELSE CAST(0 AS DOUBLE) END, 9)
           AS DECIMAL(20,9))) AS DOUBLE) AS h
  FROM dims d CROSS JOIN tv t
)
SELECT t.n_dims, CAST(t.n AS BIGINT) AS n_vectors,
       t.tot_var AS total_variance,
       (t.tot_var * t.tot_var) / t.sq_var AS participation_ratio,
       t.max_var / t.tot_var AS top_dim_share,
       ROUND(exp(e.h), 9) AS effective_rank
FROM tv t CROSS JOIN ent e
""")
def emb_effective_rank(spark, sf_dir):
    """COORDINATE effective rank of the embedding corpus — how many
    dimensions actually carry variance: the participation ratio
    (sum v)^2 / sum v^2 and the entropy effective rank exp(H(v/sum v))
    (Roy & Vetterli 2007) over per-dimension variances, plus the top
    dimension's variance share. 64 for perfectly spread variance, ~1
    when one coordinate dominates — the one-number companion to
    emb_dimension_profile's 64-row table and the quick check before
    choosing a Matryoshka truncation width. (Coordinate-basis variant:
    rotations need the PCA entry; dead/dominant COORDINATES are what
    serving truncation cares about.)

    One posexplode + one 64-group combinable exact-moment aggregation
    (the dimension-profile shape), then 64-row rollups. Per-dim
    variances are round-9'd; the entropy terms and variance squares are
    round-9 fenced into exact decimal sums; the final ratios are IEEE
    expressions over identical operands with exp round-9'd."""
    e = t(spark, sf_dir, "embeddings")
    x = e.select(F.posexplode("embedding").alias("i0", "val"))
    xv = F.round(F.col("val").cast("double"), 9)
    xsq = F.round(F.col("val").cast("double")
                  * F.col("val").cast("double"), 9)
    cnt = F.count(F.lit(1))
    s1 = F.sum(xv.cast("decimal(20,9)")).cast("double")
    s2 = F.sum(xsq.cast("decimal(20,9)")).cast("double")
    # two consumers (total/square rollup + entropy) read the 64-row
    # variance table — materialize so the corpus explode runs once
    dims = (x.groupBy((F.col("i0") + 1).alias("dim"))
            .agg(cnt.cast("bigint").alias("n"),
                 F.round((s2 - s1 * s1 / cnt) / (cnt - 1), 9).alias("v"))
            .transform(materialize))
    tv = dims.agg(
        F.max("n").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_dims"),
        F.sum(F.col("v").cast("decimal(20,9)")).cast("double")
        .alias("tot_var"),
        F.sum(F.round(F.col("v") * F.col("v"), 9).cast("decimal(20,9)"))
        .cast("double").alias("sq_var"),
        F.max("v").alias("max_var"))
    p = F.col("v") / F.col("tot_var")
    ent = (dims.crossJoin(F.broadcast(tv))
           .agg(F.sum(F.round(
               F.when(F.col("v") > 0, F.lit(0) - p * F.log(p))
               .otherwise(F.lit(0).cast("double")), 9)
               .cast("decimal(20,9)")).cast("double").alias("h")))
    return (tv.crossJoin(ent)
            .select("n_dims", F.col("n").cast("bigint").alias("n_vectors"),
                    F.col("tot_var").alias("total_variance"),
                    ((F.col("tot_var") * F.col("tot_var"))
                     / F.col("sq_var")).alias("participation_ratio"),
                    (F.col("max_var") / F.col("tot_var"))
                    .alias("top_dim_share"),
                    F.round(F.exp(F.col("h")), 9).alias("effective_rank")))
