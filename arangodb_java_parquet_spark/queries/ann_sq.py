"""SCALAR QUANTIZATION (SQ8) for the ANN family — the third quantizer
beside PQ (`sim_topk_pq_adc`) and IVF+PQ: each float32 dimension is
mapped to an int8 code against per-dimension [min, max] ranges learned
from the corpus (the FAISS ``ScalarQuantizer`` / Milvus SQ8 shape).
Completes the quantization ladder a 100-TB vector pipeline chooses
from: SQ8 = 4x compression, near-lossless recall; PQ = 32x, coarser.

Two entries:

* ``sim_sq8_encode`` — the per-dimension range fit + uint8 codes
  (emitted as a '-'-joined string; the driver canonicalizer needs
  scalar columns).
* ``sim_topk_sq8`` — asymmetric-distance top-5: exact query vector vs
  the quantized RECONSTRUCTION (bucket midpoint) of every corpus
  vector, squared-L2, deterministic (round-9 distance, id) ranking.

Determinism ledger (CLAUDE.md): the quantization transform
``floor(((x - mn) / (mx - mn)) * 256)`` is evaluated in pure double
arithmetic from exactly-widened float32 inputs on BOTH engines —
identical operands, correctly-rounded ops, so the floor boundary
cannot diverge (the decimal-vs-double mis-bin trap does not apply:
neither side goes through decimal). Reconstruction
``mn + (((code + 0.5) * (mx - mn)) / 256)`` uses 0.5 derived as
CAST(1 AS DOUBLE)/2 (exact binary) and /256 (exact scaling). Squared
distances accumulate LEFT-TO-RIGHT in double (zip_with+aggregate vs
list_sum(list_transform) — the proven `common.SQL_DOT` pairing), rounded to 9
before ranking with a vid tiebreak. Degenerate dims (mx == mn) encode
to 0 and reconstruct to mn on both sides.

Scale: the range fit is one corpus pass to a 64-row (dim, min, max)
aggregate — combinable, broadcast back as two 64-element arrays; codes
are a per-row map-side transform (no shuffle); the top-k scan carries
the corpus once with the query side broadcast, reconstruction computed
ONCE PER CORPUS VECTOR below the pair join (the norms-hoisting rule —
a Project under a Join never collapses into the pair projection). At
100 TB the same codes ride the IVF cell routing of `sim_topk_ivf`
instead of the linear scan.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from arangodb_java_parquet_spark.queries.common import query, t

_NBINS = 256
_DIMS = 64

# per-dimension range fit + codes, shared by both oracles
_SQ_COMMON = f"""WITH dims AS (SELECT UNNEST(range(1, {_DIMS + 1})) AS i),
stats AS (
  SELECT i, MIN(embedding[i]::DOUBLE) AS mn, MAX(embedding[i]::DOUBLE) AS mx
  FROM embeddings CROSS JOIN dims GROUP BY i
),
sarr AS (
  SELECT array_agg(mn ORDER BY i) AS mns, array_agg(mx ORDER BY i) AS mxs
  FROM stats
),
enc AS (
  SELECT e.vec_id,
         list_transform(range(1, {_DIMS + 1}), i ->
           CASE WHEN s.mxs[i] = s.mns[i] THEN 0
                ELSE least({_NBINS - 1}, CAST(floor(
                  ((e.embedding[i]::DOUBLE - s.mns[i])
                   / (s.mxs[i] - s.mns[i])) * {_NBINS}) AS BIGINT))
           END) AS codes
  FROM embeddings e CROSS JOIN sarr s
)"""

_SQ_ENCODE_SQL = _SQ_COMMON + """
SELECT vec_id,
       array_to_string(list_transform(codes, c -> CAST(c AS VARCHAR)),
                       '-') AS sq_code
FROM enc
"""

_SQ_TOPK_SQL = _SQ_COMMON + f""",
rec AS (
  SELECT e.vec_id,
         list_transform(range(1, {_DIMS + 1}), i ->
           s.mns[i] + (((CAST(e.codes[i] AS DOUBLE)
                         + (CAST(1 AS DOUBLE) / 2))
                        * (s.mxs[i] - s.mns[i])) / {_NBINS})) AS rvec
  FROM enc e CROSS JOIN sarr s
),
q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
      WHERE vec_id < 5),
pairs AS (
  SELECT q.qid, r.vec_id AS vid,
         round(list_sum(list_transform(range(1, {_DIMS + 1}), i ->
               (q.qvec[i]::DOUBLE - r.rvec[i])
               * (q.qvec[i]::DOUBLE - r.rvec[i]))), 9) AS sq_dist
  FROM rec r CROSS JOIN q
  WHERE q.qid != r.vec_id
)
SELECT qid, vid, sq_dist, rn FROM (
  SELECT qid, vid, sq_dist,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY sq_dist, vid) AS rn
  FROM pairs) WHERE rn <= 5
"""


def _range_fit(spark, sf_dir):
    """One corpus pass -> a 1-row DataFrame (mns: array<double>,
    mxs: array<double>) of per-dimension ranges, for broadcast."""
    e = t(spark, sf_dir, "embeddings")
    stats = (e.select(F.posexplode("embedding").alias("i0", "x"))
             .groupBy("i0")
             .agg(F.min(F.col("x").cast("double")).alias("mn"),
                  F.max(F.col("x").cast("double")).alias("mx")))
    return stats.agg(
        F.array_sort(F.collect_list(F.struct("i0", "mn", "mx")))
        .alias("smm")).select(
        F.transform("smm", lambda s: s.getField("mn")).alias("mns"),
        F.transform("smm", lambda s: s.getField("mx")).alias("mxs"))


def _encode(e, srow):
    """codes: array<bigint> of per-dim bucket ids (0..255)."""
    def code_at(i):  # i is 1-based
        x = F.element_at("embedding", i).cast("double")
        mn = F.element_at("mns", i)
        mx = F.element_at("mxs", i)
        return (F.when(mx == mn, F.lit(0).cast("bigint"))
                .otherwise(F.least(
                    F.lit(_NBINS - 1).cast("bigint"),
                    F.floor(((x - mn) / (mx - mn)) * F.lit(_NBINS)))))
    return (e.crossJoin(F.broadcast(srow))
            .withColumn("codes",
                        F.transform(F.sequence(F.lit(1), F.lit(_DIMS)),
                                    code_at)))


@query("sim_sq8_encode", _SQ_ENCODE_SQL)
def sim_sq8_encode(spark, sf_dir):
    """SQ8 encode: per-dimension [min,max] range fit (one combinable
    corpus aggregate, broadcast back) + per-row uint8 bucket codes —
    a pure map-side transform, no shuffle on the corpus. Emitted as a
    '-'-joined string (driver canonicalizer needs scalar columns)."""
    e = t(spark, sf_dir, "embeddings")
    enc = _encode(e, _range_fit(spark, sf_dir))
    return enc.select(
        "vec_id",
        F.array_join(F.transform("codes", lambda c: c.cast("string")),
                     "-").alias("sq_code"))


@query("sim_topk_sq8", _SQ_TOPK_SQL)
def sim_topk_sq8(spark, sf_dir):
    """SQ8 asymmetric-distance top-5: the query stays exact; each corpus
    vector is its bucket-midpoint reconstruction, computed ONCE below
    the pair join (norms-hoisting rule). Squared-L2 round-9 + vid
    tiebreak. At 100 TB the scan side carries only (id, 64-byte code)
    — 4x less IO than raw float32 — and routes through IVF cells."""
    e = t(spark, sf_dir, "embeddings")
    srow = _range_fit(spark, sf_dir)

    # r16: encode+reconstruct FUSED into one per-row HOF pass — the r15
    # shape ran TWO interpreted 64-element transforms per corpus vector
    # (code_at over embedding, then recon_at over codes); the code value
    # is only an intermediate here, so compute the midpoint
    # reconstruction directly from x with the IDENTICAL arithmetic
    # (same when/least/floor bigint chain, same cast-to-double point) —
    # bit-equal rvec, half the interpreted HOF work on the corpus leg.
    def recon_at(i):
        x = F.element_at("embedding", i).cast("double")
        mn = F.element_at("mns", i)
        mx = F.element_at("mxs", i)
        c = (F.when(mx == mn, F.lit(0).cast("bigint"))
             .otherwise(F.least(
                 F.lit(_NBINS - 1).cast("bigint"),
                 F.floor(((x - mn) / (mx - mn)) * F.lit(_NBINS))))
             .cast("double"))
        return mn + (((c + (F.lit(1).cast("double") / F.lit(2)))
                      * (mx - mn)) / F.lit(_NBINS))

    rec = (e.crossJoin(F.broadcast(srow))
           .select("vec_id",
                   F.transform(F.sequence(F.lit(1), F.lit(_DIMS)),
                               recon_at).alias("rvec")))
    q = (e.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qvec")))
    prods = F.zip_with("qvec", "rvec",
                       lambda x, y: (x.cast("double") - y)
                       * (x.cast("double") - y))
    pairs = (rec.crossJoin(F.broadcast(q))
             .filter(F.col("qid") != F.col("vec_id"))
             .select("qid", F.col("vec_id").alias("vid"),
                     F.round(F.aggregate(prods, F.lit(0.0),
                                         lambda acc, v: acc + v), 9)
                     .alias("sq_dist")))
    w = W.partitionBy("qid").orderBy("sq_dist", "vid")
    return (pairs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 5)
            .select("qid", "vid", "sq_dist", "rn"))
