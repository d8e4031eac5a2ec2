"""ENTROPIC OPTIMAL TRANSPORT — fixed-round SINKHORN-KNOPP scaling
(Cuturi 2013, "Sinkhorn Distances: Lightspeed Computation of Optimal
Transport") between each source's document-length distribution and
the corpus reference — the TRANSPORT-GEOMETRY leg of the mixture
family beside the f-divergences (`mixture_js_divergence` /
`mixture_kl_divergence`) and the 1-D exact `drift_wasserstein_1d`:
unlike KL/JS it respects the METRIC between length bins (mass moved
two bins pays twice as much), the quantity an OT dataset distance
(Alvarez-Melis & Fusi 2020, OTDD) is built from.

Construction: documents bin into B = 8 length bins by INTEGER
division (least(7, n_chars // 32) — exact, the timestamp-binning
rule); a = corpus bin distribution, b_s = per-source distribution
(plain integer-ratio divisions). Gibbs kernel K_ij =
round(exp(−|i−j|/ε), 9) with ε = 1 (kernel entries bounded
below by e^−7 ≈ 9e-4 — an ε of 1/2 measured 3x slower marginal
convergence on the spiky sf0.001 empirical bins) (exp of
an exact small integer argument — the r10 round-exp pilot class).
Twenty-five Sinkhorn rounds from u = v = 1:

    v_j ← b_j / (Kᵀu)_j,   u_i ← a_i / (Kv)_i,

as ONE aggregate() fold over round indices whose 16-element DOUBLE
accumulator is [u; v] (the snapshot-safe list pattern); inner
matrix-vector products are list_sum(list_transform(...)) vs
zip-free F.aggregate sums — the proven left-to-right `common.SQL_DOT`
pairing, so every intermediate double is bit-identical across engines and the
outputs (transport cost Σ u_i K_ij v_j |i−j|, column-marginal error)
are emitted UNROUNDED. Every data-dependent denominator is
NULLIF-guarded (empty bins give exact zeros, never aborts).

Scale: one documents pass to (source, bin) counts; everything after
is K-row × 8-bin broadcast arithmetic — the per-source fold is a few
thousand interpreted flops regardless of corpus size. No driver
collect.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from arangodb_java_parquet_spark.queries.common import (
    materialize, query, t)

_B = 8
_ROUNDS = 25

# Gibbs kernel, row-major 1-based flattening: K[(i-1)*8 + j]
_K_SQL = (f"list_transform(range(1, {_B * _B + 1}), kx -> "
          f"round(exp(-CAST(abs(((kx - 1) // {_B})"
          f" - ((kx - 1) % {_B})) AS DOUBLE)), 9))")


def _vnew(u: str) -> str:
    """v_j = b_j / (K^T u)_j over 1-based j."""
    return (f"list_transform(range(1, {_B + 1}), vj -> bv[vj] / "
            f"NULLIF(list_sum(list_transform(range(1, {_B + 1}), "
            f"vi -> kv[(vi - 1) * {_B} + vj] * ({u})[vi])), 0))")


def _unew(v: str) -> str:
    """u_i = a_i / (K v)_i over 1-based i."""
    return (f"list_transform(range(1, {_B + 1}), ui -> av[ui] / "
            f"NULLIF(list_sum(list_transform(range(1, {_B + 1}), "
            f"uj -> kv[(ui - 1) * {_B} + uj] * ({v})[uj])), 0))")


# ALTERNATING HALF-STEPS: odd fold elements update v (from the
# current u), even ones update u (from the just-updated v). The
# one-shot form unew(vnew(u)) inlines the whole vnew expression into
# EVERY element access of unew (interpreted HOFs re-evaluate a
# transform per element_at) — measured 8.2 s at sf0.1; the split
# computes each vector once per half-step (same value sequence,
# bit-identical outputs) and runs in ~1 s.
_STEP = (f"CASE WHEN CAST(x[1] AS INTEGER) % 2 = 1 THEN "
         f"acc[1:{_B}] || {_vnew(f'acc[1:{_B}]')} "
         f"ELSE {_unew(f'acc[{_B + 1}:{2 * _B}]')}"
         f" || acc[{_B + 1}:{2 * _B}] END")

_ONES = f"list_transform(range(1, {_B + 1}), ox -> CAST(1 AS DOUBLE))"

_COST = (f"list_sum(list_transform(range(1, {_B * _B + 1}), cx -> "
         f"fin[((cx - 1) // {_B}) + 1] * kv[cx] "
         f"* fin[{_B} + ((cx - 1) % {_B}) + 1] "
         f"* CAST(abs(((cx - 1) // {_B}) - ((cx - 1) % {_B}))"
         f" AS DOUBLE)))")

_MERR = (f"list_sum(list_transform(range(1, {_B + 1}), mj -> "
         f"abs(fin[{_B} + mj] * list_sum(list_transform("
         f"range(1, {_B + 1}), mi -> kv[(mi - 1) * {_B} + mj]"
         f" * fin[mi])) - bv[mj])))")

_SINKHORN_SQL = f"""WITH bins AS (
  SELECT source, least({_B - 1}, n_chars // 32) AS b FROM documents
),
per AS (SELECT source, b, COUNT(*) AS c FROM bins GROUP BY source, b),
grid AS (
  SELECT s.source, gj.j
  FROM (SELECT DISTINCT source FROM documents) s
  CROSS JOIN (SELECT UNNEST(range(0, {_B})) AS j) gj
),
bv0 AS (
  SELECT g.source, g.j, CAST(COALESCE(p.c, 0) AS BIGINT) AS c
  FROM grid g LEFT JOIN per p ON p.source = g.source AND p.b = g.j
),
bvec0 AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs,
         array_agg(CAST(c AS DOUBLE) ORDER BY j) AS cv
  FROM bv0 GROUP BY source
),
bvec AS (
  SELECT source, n_docs,
         list_transform(cv, bc -> bc / CAST(n_docs AS DOUBLE)) AS bv
  FROM bvec0
),
avec0 AS (
  SELECT CAST(SUM(c) AS BIGINT) AS nt,
         array_agg(CAST(c AS DOUBLE) ORDER BY j) AS cv
  FROM (SELECT j, CAST(SUM(c) AS BIGINT) AS c FROM bv0 GROUP BY j)
),
avec AS (
  SELECT list_transform(cv, ac -> ac / CAST(nt AS DOUBLE)) AS av
  FROM avec0
),
kmat AS (SELECT {_K_SQL} AS kv),
fold AS (
  SELECT b.source, b.n_docs, b.bv, a.av, k.kv,
         list_reduce(
           list_prepend({_ONES} || {_ONES},
             list_transform(range(1, {2 * _ROUNDS + 1}),
                            rr -> [CAST(rr AS DOUBLE)])),
           (acc, x) -> {_STEP}) AS fin
  FROM bvec b CROSS JOIN avec a CROSS JOIN kmat k
)
SELECT source, n_docs, {_COST} AS ot_cost, {_MERR} AS col_marg_err
FROM fold
ORDER BY source
"""


@query("ot_sinkhorn_distance", _SINKHORN_SQL)
def ot_sinkhorn_distance(spark, sf_dir):
    """Per-source entropic OT distance to the corpus length profile:
    one pass to (source, bin) counts, then 25 Sinkhorn rounds as a
    16-double-accumulator fold — broadcast-size work per source."""
    d = t(spark, sf_dir, "documents")
    bins = d.select("source",
                    F.least(F.lit(_B - 1),
                            F.expr("n_chars div 32")).alias("b"))
    per = bins.groupBy("source", "b").agg(
        F.count(F.lit(1)).alias("c"))
    grid = (d.select("source").distinct()
            .crossJoin(F.broadcast(
                per.sparkSession.range(0, _B)
                .select(F.col("id").cast("bigint").alias("j")))))
    bv0 = (grid.join(per, (per["source"] == grid["source"])
                     & (per["b"] == grid["j"]), "left")
           .select(grid["source"], "j",
                   F.coalesce(per["c"], F.lit(0)).cast("bigint")
                   .alias("c")))
    bv0 = materialize(bv0)  # feeds bvec AND avec
    bvec = (bv0.groupBy("source")
            .agg(F.sum("c").cast("bigint").alias("n_docs"),
                 F.array_sort(F.collect_list(
                     F.struct("j", F.col("c").cast("double")
                              .alias("cd")))).alias("cvs"))
            .select("source", "n_docs",
                    F.transform(
                        "cvs",
                        lambda s: s.getField("cd")
                        / F.col("n_docs").cast("double")).alias("bv")))
    avec = (bv0.groupBy("j")
            .agg(F.sum("c").cast("bigint").alias("c"))
            .agg(F.sum("c").cast("bigint").alias("nt"),
                 F.array_sort(F.collect_list(
                     F.struct("j", F.col("c").cast("double")
                              .alias("cd")))).alias("cvs"))
            .select(F.transform(
                "cvs", lambda s: s.getField("cd")
                / F.col("nt").cast("double")).alias("av")))
    kmat = avec.sparkSession.range(1).select(
        F.transform(
            F.sequence(F.lit(1), F.lit(_B * _B)),
            lambda kx: F.round(F.exp(
                -(F.abs(((kx - F.lit(1)) / _B).cast("int")
                        - ((kx - F.lit(1)) % _B)
                        .cast("int"))).cast("double")), 9))
        .alias("kv"))

    def ksum_row(kv, vec, i):
        # (K vec)_i = sum_j K[(i-1)*8+j] * vec[j], left-to-right
        return F.aggregate(
            F.sequence(F.lit(1), F.lit(_B)), F.lit(0.0),
            lambda s2, jj: s2 + F.element_at(
                kv, ((i - F.lit(1)) * _B + jj).cast("int"))
            * F.element_at(vec, jj.cast("int")))

    def ksum_col(kv, vec, j):
        # (K^T vec)_j = sum_i K[(i-1)*8+j] * vec[i]
        return F.aggregate(
            F.sequence(F.lit(1), F.lit(_B)), F.lit(0.0),
            lambda s2, ii: s2 + F.element_at(
                kv, ((ii - F.lit(1)) * _B + j).cast("int"))
            * F.element_at(vec, ii.cast("int")))

    def vnew(kv, bvc, u):
        return F.transform(
            F.sequence(F.lit(1), F.lit(_B)),
            lambda jj: F.element_at(bvc, jj.cast("int"))
            / F.nullif(ksum_col(kv, u, jj), F.lit(0.0)))

    def unew(kv, avc, v):
        return F.transform(
            F.sequence(F.lit(1), F.lit(_B)),
            lambda ii: F.element_at(avc, ii.cast("int"))
            / F.nullif(ksum_row(kv, v, ii), F.lit(0.0)))

    ones = F.transform(F.sequence(F.lit(1), F.lit(_B)),
                       lambda _: F.lit(1.0))

    def step(acc, r):
        # alternating half-steps (see the SQL _STEP comment): odd r
        # updates v from the current u, even r updates u from the
        # just-updated v — each vector built once per half-step.
        u = F.slice(acc, 1, _B)
        v = F.slice(acc, _B + 1, _B)
        return (F.when(
            r.cast("int") % 2 == 1,
            F.concat(u, vnew(F.col("kv"), F.col("bv"), u)))
            .otherwise(
            F.concat(unew(F.col("kv"), F.col("av"), v), v)))

    fold = (bvec.crossJoin(F.broadcast(avec))
            .crossJoin(F.broadcast(kmat))
            .withColumn("fin", F.aggregate(
                F.sequence(F.lit(1), F.lit(2 * _ROUNDS)),
                F.concat(ones, ones), step)))
    fold = materialize(fold)  # fin feeds cost AND marginal error

    kvc = F.col("kv")
    fin = F.col("fin")
    cost = F.aggregate(
        F.sequence(F.lit(1), F.lit(_B * _B)), F.lit(0.0),
        lambda s2, cx: s2
        + F.element_at(fin, (((cx - F.lit(1)) / _B).cast("int")
                             + F.lit(1)))
        * F.element_at(kvc, cx.cast("int"))
        * F.element_at(fin, (F.lit(_B)
                             + ((cx - F.lit(1)) % _B).cast("int")
                             + F.lit(1)))
        * F.abs(((cx - F.lit(1)) / _B).cast("int")
                - ((cx - F.lit(1)) % _B).cast("int")).cast("double"))
    merr = F.aggregate(
        F.sequence(F.lit(1), F.lit(_B)), F.lit(0.0),
        lambda s2, mj: s2 + F.abs(
            F.element_at(fin, (F.lit(_B) + mj).cast("int"))
            * ksum_col(kvc, F.slice(fin, 1, _B), mj)
            - F.element_at(F.col("bv"), mj.cast("int"))))
    return (fold.select("source", "n_docs", cost.alias("ot_cost"),
                        merr.alias("col_marg_err"))
            .orderBy("source"))
