"""BORŮVKA MINIMUM SPANNING FOREST (Borůvka 1926; the canonical
PARALLEL MST algorithm — each round every component picks its
cheapest outgoing edge and components contract, so the component
count at least halves per round: O(log n) rounds of joins +
aggregations, THE shape that runs on 1000 executors) over the
SRP-bucketed embedding similarity graph — the single-linkage
HAC backbone the clustering family lacks (cutting the MST's
heaviest edges IS single-linkage clustering; Gower & Ross 1969).

Graph: vertices = embeddings with vec_id < 300; edges = in-bucket
pairs of the 4-bit sign-random-projection bucketing (the
emb_near_dup_pairs contract — never all-pairs) with weight =
round-9 squared L2 and the STRICT TOTAL ORDER (w, a, b): under a
total edge order the MST is UNIQUE, so Borůvka (engine side) and
KRUSKAL (oracle side — a union-find fold over weight-sorted edges,
a genuinely different algorithm) must produce the SAME forest.

Oracle: DuckDB runs Kruskal as one list_reduce whose accumulator is
[n_edges, nano_weight, label_1..label_n] (labels dense-indexed by
vec_id rank; merge = relabel greater→least, so final labels are
component-min indices); the skip branch REBUILDS the list (the
DuckDB 1.0 identity-return corruption, CLAUDE.md). Weights
accumulate as round(w·1e9, 0) integer-valued doubles — exact at any
summation order, so Borůvka's different acceptance order cannot
shift the total (the two algorithms accept the same edge SET but in
different sequences).

Output: one row per component (canonical id = min member vec_id,
size) with the global forest invariants alongside: n_vertices,
n_components, n_mst_edges (= n_vertices − n_components, pinned in
pytest) and the unique total MST weight.

Scale: Borůvka's per-round work is two label joins + a min-by-key
aggregate + the pointer-doubled contraction (operators/curation.py
connected_components) — all hash-shaped; rounds are O(log n) with a
scalar convergence action per round (the documented
driver-coordinated loop). The Kruskal fold exists ONLY as the
oracle's independent recompute; it is sequential by nature and
bounded to the 300-vertex probe graph.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from arangodb_java_parquet_spark.operators.curation import (
    connected_components)
from arangodb_java_parquet_spark.operators.similarity import (
    SRP_BITS, srp_bucket)
from arangodb_java_parquet_spark.queries.common import (
    materialize, query, srp_bucket_sql, t)

_MAXV = 300
_ROUNDS = 12

_D2 = ("round(list_sum(list_transform(range(1, len({a}) + 1),"
       " i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE)"
       " * ({a}[i]::DOUBLE - {b}[i]::DOUBLE))), 9)")

_KRUSKAL_STEP = """CASE
  WHEN acc[2 + CAST(x[1] AS INTEGER)] = acc[2 + CAST(x[2] AS INTEGER)]
  THEN list_transform(acc, vv -> vv + 0)
  ELSE [acc[1] + 1, acc[2] + round(x[3] * 1000000000, 0)]
       || list_transform(acc[3:], vv ->
            CASE WHEN vv = greatest(acc[2 + CAST(x[1] AS INTEGER)],
                                    acc[2 + CAST(x[2] AS INTEGER)])
                 THEN least(acc[2 + CAST(x[1] AS INTEGER)],
                            acc[2 + CAST(x[2] AS INTEGER)])
                 ELSE vv + 0 END)
END"""

_MST_SQL = f"""WITH verts AS (
  SELECT vec_id, embedding, {srp_bucket_sql(SRP_BITS)} AS bucket,
         CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INTEGER) AS idx
  FROM embeddings WHERE vec_id < {_MAXV}
),
nn AS (SELECT CAST(COUNT(*) AS INTEGER) AS n FROM verts),
edges AS (
  SELECT a.idx AS ia, b.idx AS ib, a.vec_id AS va, b.vec_id AS vb,
         {_D2.format(a='a.embedding', b='b.embedding')} AS w
  FROM verts a JOIN verts b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
),
el AS (
  SELECT list([CAST(ia AS DOUBLE), CAST(ib AS DOUBLE), w]
              ORDER BY w, va, vb) AS es
  FROM edges
),
folded AS (
  SELECT list_reduce(
           list_prepend(
             [CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)]
             || list_transform(range(1, n + 1),
                               i -> CAST(i AS DOUBLE)),
             es),
           (acc, x) -> {_KRUSKAL_STEP}) AS acc
  FROM el CROSS JOIN nn
),
stats AS (
  SELECT CAST(acc[1] AS BIGINT) AS n_mst_edges,
         acc[2] / CAST(1000000000 AS DOUBLE) AS total_mst_weight,
         acc[3:] AS labs
  FROM folded
),
members AS (
  SELECT UNNEST(range(1, len(labs) + 1)) AS idx,
         UNNEST(list_transform(labs, l -> CAST(l AS INTEGER)))
           AS labidx,
         n_mst_edges, total_mst_weight
  FROM stats
),
comps AS (
  SELECT labidx, CAST(COUNT(*) AS BIGINT) AS n_vertices,
         MAX(n_mst_edges) AS n_mst_edges,
         MAX(total_mst_weight) AS total_mst_weight
  FROM members GROUP BY labidx
)
SELECT v.vec_id AS component, c.n_vertices,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM verts) AS n_all_vertices,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM comps) AS n_components,
       c.n_mst_edges, c.total_mst_weight
FROM comps c JOIN verts v ON c.labidx = v.idx
ORDER BY component
"""


@query("graph_mst_boruvka", _MST_SQL)
def graph_mst_boruvka(spark, sf_dir):
    """Distributed Borůvka: per round, min outgoing edge per component
    (one min-by aggregate over the label-joined edge list), contract
    via pointer-doubled connected components, repeat until no
    cross-component edges remain. Oracle = sequential Kruskal (unique
    MST under the total edge order). See module docstring."""
    e = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _MAXV)
    verts = e.select(
        F.col("vec_id").alias("vid"),
        srp_bucket(F.col("embedding"), SRP_BITS).alias("bucket"),
        F.col("embedding"))
    a = verts.select(F.col("vid").alias("va"),
                     F.col("bucket").alias("ba"),
                     F.col("embedding").alias("ea"))
    b = verts.select(F.col("vid").alias("vb"),
                     F.col("bucket").alias("bb"),
                     F.col("embedding").alias("eb"))
    diffs = F.zip_with("ea", "eb",
                       lambda x, y: (x.cast("double") - y.cast("double"))
                       * (x.cast("double") - y.cast("double")))
    edges = materialize(
        a.join(b, (F.col("ba") == F.col("bb"))
               & (F.col("va") < F.col("vb")))
        .select("va", "vb",
                F.round(F.aggregate(diffs, F.lit(0.0),
                                    lambda s, v: s + v), 9)
                .alias("w")))

    lab = materialize(verts.select(F.col("vid").alias("node"))
                      .withColumn("label", F.col("node")))
    mst = None
    for _ in range(_ROUNDS):
        la = lab.select(F.col("node").alias("va"),
                        F.col("label").alias("la"))
        lb = lab.select(F.col("node").alias("vb"),
                        F.col("label").alias("lb"))
        e2 = materialize(edges.join(la, "va").join(lb, "vb")
                         .filter(F.col("la") != F.col("lb")))
        # scalar convergence action — the documented driver-coordinated
        # loop of the iterative graph operators
        if e2.limit(1).count() == 0:
            break
        key = F.struct(F.col("w"), F.col("va"), F.col("vb"),
                       F.col("la"), F.col("lb"))
        cand = (e2.select(F.col("la").alias("comp"), key.alias("k"))
                .unionByName(
                    e2.select(F.col("lb").alias("comp"),
                              key.alias("k"))))
        chosen = (cand.groupBy("comp").agg(F.min("k").alias("k"))
                  .select(F.col("k.w").alias("w"),
                          F.col("k.va").alias("va"),
                          F.col("k.vb").alias("vb"),
                          F.col("k.la").alias("la"),
                          F.col("k.lb").alias("lb"))
                  .distinct())
        chosen = materialize(chosen)
        sel = chosen.select("va", "vb", "w")
        mst = sel if mst is None else materialize(
            mst.unionByName(sel).distinct(), "iter")
        compmap = connected_components(
            chosen.select("la", "lb"), a_col="la", b_col="lb")
        lab = materialize(
            lab.join(compmap.withColumnRenamed("node", "label"),
                     "label", "left")
            .select("node",
                    F.coalesce("component", "label").alias("label")),
            "iter")
    # global forest invariants
    if mst is None:
        mst = edges.filter(F.lit(False)).select("va", "vb", "w")
    gstats = mst.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_mst_edges"),
        (F.coalesce(
            F.sum(F.round(F.col("w") * F.lit(1000000000), 0)),
            F.lit(0.0))
         / F.lit(1000000000).cast("double")).alias("total_mst_weight"))
    comps = (lab.groupBy("label")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_vertices")))
    nall = lab.agg(F.count(F.lit(1)).cast("bigint")
                   .alias("n_all_vertices"))
    ncomp = comps.agg(F.count(F.lit(1)).cast("bigint")
                      .alias("n_components"))
    return (comps.select(F.col("label").alias("component"),
                         "n_vertices")
            .crossJoin(F.broadcast(nall))
            .crossJoin(F.broadcast(ncomp))
            .crossJoin(F.broadcast(gstats))
            .select("component", "n_vertices", "n_all_vertices",
                    "n_components", "n_mst_edges", "total_mst_weight")
            .orderBy("component"))
