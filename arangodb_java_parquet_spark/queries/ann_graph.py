"""NN-DESCENT kNN-graph construction (Dong, Moses & Li, "Efficient
k-nearest neighbor graph construction for generic similarity measures",
WWW 2011) — the GRAPH-BUILT ANN family (VERDICT r14 #5) beside the
IVF/PQ/LSH index entries: the batch-construction cousin of the
HNSW-style graphs that dominate modern vector serving.

Deterministic re-expression (every stochastic knob in the paper pinned
so a fixed-round unrolled DuckDB mirror is bit-identical):

  init      top-k by cosine over (same 6-bit SRP bucket ∪ ids within
            ±8) — the existing bucketed candidate contract provides
            correlated seeds, the id window provides bucket-spanning
            diversity edges (the paper's random init made
            deterministic). Spark runs it as a UNION of two equi-joins
            + distinct (an OR-join cannot hash-join and would fall back
            to a nested-loop product); the SQL mirror's OR condition
            yields the identical pair SET.
  round r   reverse edges capped at k per node by (cos DESC, id ASC)
            (the paper's ρ-sampling, deterministic); local join =
            neighbors-of-neighbors over the capped undirected lists;
            candidates DEDUPLICATED then ANTI-JOINED against the
            current graph's edges (a pair scored-and-dropped in an
            earlier round may be regenerated — the bounded-k re-scored
            dots cost less than carrying a growing seen-set); new graph
            = top-k over old edges ∪ newly scored candidates
  ranking   round-9 cosine, vid ASC tiebreak throughout

Scale: per round ≤ n·(2k)² scored pairs — linear in corpus size with a
k² constant, the paper's headline property; the reverse-degree cap is
what keeps a hub's in-degree from making the local join quadratic; at
100 TB init_bits grows ~log2(n/target-bucket) so init pair work stays
linear (the emb_near_dup_pairs fixed-bits disclosure). Norms are
computed once per node below the pair joins (the HOF-collapse rule).

HONEST DATA CAVEAT (measured r15): this corpus's embeddings are
near-iid (same-label mean cosine 0.0016 vs 0.0003 cross-label), the
adversarial regime for NN-descent — neighbor-of-neighbor transitivity
is weak, so absolute recall plateaus low. What the recall entry
value-checks is therefore the PER-ROUND TRAJECTORY (init → round 1 →
round 2, monotone non-decreasing: 0.185 → 0.245 → 0.338 at sf0.01) —
the algorithmic property that survives any corpus; the pytest pins
monotonicity and the per-round candidate bound.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from arangodb_java_parquet_spark.operators.similarity import (
    nndescent_knn_graph, topk_cosine_bruteforce)
from arangodb_java_parquet_spark.queries.common import (
    SQL_DOT, query, srp_bucket_sql, t)

_K = 8        # graph out-degree (and reverse-edge cap)
_INIT_W = 8   # init diversity edges: ids within ±8
_INIT_BITS = 6  # init bucket edges: 6-bit SRP (axis hyperplanes)
_ROUNDS = 2   # fixed NN-descent rounds
_NPROBE = 50  # recall probe queries (vec_id < 50)


def _nnd_sql() -> str:
    """Unrolled NN-descent oracle. Every CTE referenced more than once is
    AS MATERIALIZED (DuckDB's default inlining is exponential on chained
    reuse — the r14 lattice lesson)."""
    parts = [f"""WITH b AS MATERIALIZED (
  SELECT vec_id AS id, embedding AS vec,
         sqrt({SQL_DOT.format(a='embedding', b='embedding')}) AS nrm,
         {srp_bucket_sql(_INIT_BITS)} AS bkt
  FROM embeddings
),
i0 AS (
  -- OR of the two equi-conditions = the same pair SET as Spark's
  -- union-of-two-equi-joins + distinct
  SELECT a.id AS qid, c.id AS vid,
         round({SQL_DOT.format(a='a.vec', b='c.vec')}
               / NULLIF(a.nrm * c.nrm, 0), 9) AS cos_sim
  FROM b a JOIN b c
    ON (c.bkt = a.bkt
        OR c.id BETWEEN a.id - {_INIT_W} AND a.id + {_INIT_W})
   AND c.id != a.id
),
knn0 AS MATERIALIZED (
  SELECT qid, vid, cos_sim FROM (
    SELECT qid, vid, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY cos_sim DESC, vid ASC) AS rn
    FROM i0
  ) WHERE rn <= {_K}
)"""]
    for r in range(_ROUNDS):
        parts.append(f""",
rev{r} AS (
  -- window refs are INPUT columns: PARTITION BY vid = the new qid,
  -- ORDER BY qid = the new vid (reverse-edge cap, k per node)
  SELECT qid, vid, cos_sim FROM (
    SELECT vid AS qid, qid AS vid, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY vid
                              ORDER BY cos_sim DESC, qid ASC) AS rrn
    FROM knn{r}
  ) WHERE rrn <= {_K}
),
und{r} AS MATERIALIZED (
  SELECT qid, vid FROM knn{r}
  UNION ALL
  SELECT qid, vid FROM rev{r}
),
cand{r} AS (
  SELECT DISTINCT u1.qid AS qid, u2.vid AS vid
  FROM und{r} u1 JOIN und{r} u2 ON u1.vid = u2.qid
  WHERE u1.qid != u2.vid
  EXCEPT
  SELECT qid, vid FROM knn{r}
),
sc{r} AS (
  SELECT c.qid, c.vid,
         round({SQL_DOT.format(a='a.vec', b='e.vec')}
               / NULLIF(a.nrm * e.nrm, 0), 9) AS cos_sim
  FROM cand{r} c JOIN b a ON a.id = c.qid JOIN b e ON e.id = c.vid
),
knn{r + 1} AS MATERIALIZED (
  SELECT qid, vid, cos_sim FROM (
    SELECT qid, vid, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY cos_sim DESC, vid ASC) AS rn
    FROM (SELECT * FROM sc{r} UNION ALL SELECT * FROM knn{r})
  ) WHERE rn <= {_K}
)""")
    return "".join(parts)


_NND_GRAPH_SQL = _nnd_sql() + f"""
SELECT qid, vid, cos_sim,
       ROW_NUMBER() OVER (PARTITION BY qid
                          ORDER BY cos_sim DESC, vid ASC) AS rn
FROM knn{_ROUNDS}
"""

_NND_RECALL_SQL = _nnd_sql() + f""",
bf AS MATERIALIZED (
  SELECT qid, vid FROM (
    SELECT q.id AS qid, e.id AS vid,
           ROW_NUMBER() OVER (
             PARTITION BY q.id
             ORDER BY round({SQL_DOT.format(a='q.vec', b='e.vec')}
                            / NULLIF(q.nrm * e.nrm, 0), 9)
               DESC, e.id ASC) AS rn
    FROM b q JOIN b e ON e.id != q.id
    WHERE q.id < {_NPROBE}
  ) WHERE rn <= {_K}
)
""" + "\nUNION ALL\n".join(f"""
SELECT CAST({s} AS BIGINT) AS stage,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM bf
        JOIN knn{s} g ON g.qid = bf.qid AND g.vid = bf.vid) AS n_hits,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM bf) AS n_total,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM bf
        JOIN knn{s} g ON g.qid = bf.qid AND g.vid = bf.vid)
         / (SELECT CAST(COUNT(*) AS DOUBLE) FROM bf) AS recall
""" for s in range(_ROUNDS + 1))


@query("ann_nndescent_graph", _NND_GRAPH_SQL)
def ann_nndescent_graph(spark, sf_dir):
    """The fixed-round NN-descent kNN graph itself: (qid, vid, cos_sim,
    rn) with out-degree k=8 after 2 rounds from the bucket∪window init.
    See module docstring for the determinism contract; the construction
    lives in operators/similarity.py:nndescent_knn_graph."""
    e = t(spark, sf_dir, "embeddings")
    return nndescent_knn_graph(
        e, id_col="vec_id", vec_col="embedding",
        k=_K, init_window=_INIT_W, init_bits=_INIT_BITS, rounds=_ROUNDS)


@query("ann_nndescent_recall", _NND_RECALL_SQL)
def ann_nndescent_recall(spark, sf_dir):
    """Self-measuring construction quality: recall@k vs the exact
    brute-force graph over the vec_id<50 probe set, reported PER STAGE
    (init, after round 1, after round 2) so the monotone per-round
    improvement — the algorithmic property — is what is value-checked.
    Integer hit counts plus their plain double ratio (exact ints →
    IEEE-identical division, the unrounded-ratio rule)."""
    e = t(spark, sf_dir, "embeddings")
    g = nndescent_knn_graph(
        e, id_col="vec_id", vec_col="embedding",
        k=_K, init_window=_INIT_W, init_bits=_INIT_BITS, rounds=_ROUNDS,
        stages=True)
    bf = topk_cosine_bruteforce(
        e.filter(F.col("vec_id") < _NPROBE), e,
        id_col="vec_id", vec_col="embedding", k=_K)
    hits = (bf.select("qid", "vid")
            .join(g.select("stage", "qid", "vid"), ["qid", "vid"])
            .groupBy("stage")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits")))
    tot = bf.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    # a stage with ZERO hits would drop out of the inner-join rollup;
    # left-join from the static stage list keeps all rows (coalesce 0)
    stages_df = spark.range(_ROUNDS + 1).select(
        F.col("id").cast("bigint").alias("stage"))
    return (stages_df.join(hits, "stage", "left")
            .crossJoin(F.broadcast(tot))
            .select("stage",
                    F.coalesce("n_hits", F.lit(0).cast("bigint"))
                    .alias("n_hits"),
                    "n_total",
                    (F.coalesce("n_hits", F.lit(0).cast("bigint"))
                     .cast("double")
                     / F.col("n_total").cast("double")).alias("recall")))
