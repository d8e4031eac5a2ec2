"""Round-14 clustering wave: Gaussian-mixture EM (diagonal, 2-D),
grid-bucketed DBSCAN, and facility-location greedy selection — three
classic clustering/selection families the registry lacked (k-means,
k-center, silhouette/Davies-Bouldin already exist).

Determinism contracts (CLAUDE.md rules):
  * inputs are the first two embedding dims, float->double (exact
    widening) then round-9 so every derived product is an IEEE-identical
    double on both engines;
  * softmax responsibilities use the max-shift + round-9 exp pattern
    (piloted r10: round(exp(x),9) is cross-engine safe for x already
    identical);
  * all cross-row reductions are exact decimal sums of round-9 terms;
  * variance-style outputs are round-9 + 0.0 (kills the -0.0 repr split)
    and derived ratios of identical doubles are emitted as PLAIN
    divisions (unrounded, per the monthly_seasonal_index rule);
  * every argmax/min carries a unique tie-break (id / pair ordering).

Scale notes per entry are in the docstrings; the common theme is that
the O(n^2) shapes are either grid-bucketed (DBSCAN: pairs only within
adjacent eps-cells) or candidate-bounded (facility location: the
greedy argmax is a k-round loop of one combinable aggregate over a
pair table that a 100 TB deployment would bucket by IVF cell, exactly
like sim_topk_ivf)."""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from arangodb_java_parquet_spark.materialize import materialize
from arangodb_java_parquet_spark.queries.common import SQL_DOT, query, t

_GMM_K = 3
_GMM_ROUNDS = 2


def _pts_sql() -> str:
    return """
pts AS MATERIALIZED (
  SELECT vec_id AS id,
         ROUND(CAST(embedding[1] AS DOUBLE), 9) AS x1,
         ROUND(CAST(embedding[2] AS DOUBLE), 9) AS x2
  FROM embeddings
)"""



def _pts(spark, sf_dir):
    """Spark mirror of _pts_sql (factored so both entries share one
    extraction, like the SQL side — review r14)."""
    e = t(spark, sf_dir, "embeddings")
    return materialize(e.select(
        F.col("vec_id").alias("id"),
        F.round(F.col("embedding").getItem(0).cast("double"), 9)
        .alias("x1"),
        F.round(F.col("embedding").getItem(1).cast("double"), 9)
        .alias("x2")))


def _gmm_sql() -> str:
    parts = [f"""WITH {_pts_sql()},
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pts),
gv AS MATERIALIZED (
  -- global per-dim variance for the init (decimal-exact moments)
  SELECT
    ROUND(CAST(SUM(CAST(ROUND(x1 * x1, 9) AS DECIMAL(30,9))) AS DOUBLE)
            / nn.n
          - (CAST(SUM(CAST(x1 AS DECIMAL(30,9))) AS DOUBLE) / nn.n)
            * (CAST(SUM(CAST(x1 AS DECIMAL(30,9))) AS DOUBLE) / nn.n),
          9) + 0.0 AS v1,
    ROUND(CAST(SUM(CAST(ROUND(x2 * x2, 9) AS DECIMAL(30,9))) AS DOUBLE)
            / nn.n
          - (CAST(SUM(CAST(x2 AS DECIMAL(30,9))) AS DOUBLE) / nn.n)
            * (CAST(SUM(CAST(x2 AS DECIMAL(30,9))) AS DOUBLE) / nn.n),
          9) + 0.0 AS v2
  FROM pts, nn GROUP BY nn.n
),
rk AS (SELECT id, x1, x2, ROW_NUMBER() OVER (ORDER BY x1, id) AS rk
       FROM pts),
comp0 AS MATERIALIZED (
  -- tertile-median init along x1 (deterministic rank selection)
  SELECT j.j, CAST(1 AS DOUBLE) / {_GMM_K} AS w,
         rk.x1 AS m1, rk.x2 AS m2, gv.v1, gv.v2
  FROM (SELECT UNNEST(range(0, {_GMM_K})) AS j) j
  JOIN nn ON TRUE
  JOIN rk ON rk.rk = ((2 * j.j + 1) * nn.n) // 6 + 1
  CROSS JOIN gv
)"""]
    for r in range(_GMM_ROUNDS):
        parts.append(f""",
q{r} AS MATERIALIZED (
  SELECT p.id, c.j, p.x1, p.x2,
         -- NULLIF(GREATEST(v,0),0) on every data-dependent denominator
         -- / ln arg (review r14 + ADVICE r14): a zero-variance component
         -- or zero weight must yield NULL on BOTH engines (Spark ANSI
         -- would abort, DuckDB would return NULL/raise on ln(0)), and a
         -- round-9 M-step variance can cancel to a small NEGATIVE —
         -- DuckDB LN(negative) raises while Spark F.log returns NULL, so
         -- clamp to 0 first (NULLIF then maps it to NULL symmetrically)
         ROUND(LN(NULLIF(c.w, 0))
               - 0.5 * ROUND(LN(2 * pi()
                                * NULLIF(GREATEST(c.v1, 0), 0)), 9)
               - 0.5 * ROUND(LN(2 * pi()
                                * NULLIF(GREATEST(c.v2, 0), 0)), 9)
               - 0.5 * ((p.x1 - c.m1) * (p.x1 - c.m1)
                          / NULLIF(GREATEST(c.v1, 0), 0)
                        + (p.x2 - c.m2) * (p.x2 - c.m2)
                          / NULLIF(GREATEST(c.v2, 0), 0)),
               9) AS q
  FROM pts p CROSS JOIN comp{r} c
),
resp{r} AS MATERIALIZED (
  SELECT id, j, x1, x2,
         ROUND(e / se, 9) AS resp
  FROM (
    SELECT id, j, x1, x2, e,
           CAST(SUM(CAST(e AS DECIMAL(20,9)))
                OVER (PARTITION BY id) AS DOUBLE) AS se
    FROM (
      SELECT id, j, x1, x2,
             ROUND(EXP(q - MAX(q) OVER (PARTITION BY id)), 9) AS e
      FROM q{r}
    )
  )
),
comp{r + 1} AS MATERIALIZED (
  SELECT j,
         sr / nn.n AS w,
         srx1 / NULLIF(sr, 0) AS m1, srx2 / NULLIF(sr, 0) AS m2,
         ROUND(srxx1 / NULLIF(sr, 0)
               - (srx1 / NULLIF(sr, 0)) * (srx1 / NULLIF(sr, 0)), 9)
           + 0.0 AS v1,
         ROUND(srxx2 / NULLIF(sr, 0)
               - (srx2 / NULLIF(sr, 0)) * (srx2 / NULLIF(sr, 0)), 9)
           + 0.0 AS v2
  FROM (
    SELECT j,
      CAST(SUM(CAST(resp AS DECIMAL(20,9))) AS DOUBLE) AS sr,
      CAST(SUM(CAST(ROUND(resp * x1, 9) AS DECIMAL(30,9))) AS DOUBLE)
        AS srx1,
      CAST(SUM(CAST(ROUND(resp * x2, 9) AS DECIMAL(30,9))) AS DOUBLE)
        AS srx2,
      CAST(SUM(CAST(ROUND(resp * ROUND(x1 * x1, 9), 9) AS DECIMAL(30,9)))
           AS DOUBLE) AS srxx1,
      CAST(SUM(CAST(ROUND(resp * ROUND(x2 * x2, 9), 9) AS DECIMAL(30,9)))
           AS DOUBLE) AS srxx2
    FROM resp{r} GROUP BY j
  ), nn
)""")
    parts.append(f"""
SELECT j AS component, w AS weight,
       ROUND(m1, 9) + 0.0 AS m1, ROUND(m2, 9) + 0.0 AS m2, v1, v2
FROM comp{_GMM_ROUNDS}
""")
    return "".join(parts)


@query("gmm_em_diag_2d", _gmm_sql())
def gmm_em_diag_2d(spark, sf_dir):
    """GAUSSIAN MIXTURE EM (diagonal covariance, k=3) on the first two
    embedding dims, 2 fixed EM rounds from a deterministic
    tertile-median init — the soft-clustering companion to
    kmeans_fixed_rounds (hard assignments) and the standard density
    model for embedding-space curation (cluster weights drive mixture
    re-balancing). E-step = one broadcast of the 3-row component table
    against the point table + a per-point softmax (max-shift round-9
    exp, r10 pilot); M-step = one combinable decimal-sum rollup per
    round. At 100 TB each round is exactly two corpus passes with
    vocabulary... point-scale shuffles only on the 3-key rollup."""
    pts = _pts(spark, sf_dir)
    nn = pts.agg(F.count(F.lit(1)).cast("bigint").alias("n"))

    def d30(c):
        return F.sum(c.cast("decimal(30,9)")).cast("double")

    gv = (pts.crossJoin(F.broadcast(nn))
          .groupBy("n")
          .agg(*[(F.round(
              d30(F.round(F.col(x) * F.col(x), 9)) / F.first("n")
              - (d30(F.col(x)) / F.first("n"))
              * (d30(F.col(x)) / F.first("n")), 9) + 0.0).alias(f"v{i}")
              for i, x in ((1, "x1"), (2, "x2"))])
          .select("v1", "v2"))
    rk = pts.select("id", "x1", "x2",
                    F.row_number().over(W.orderBy("x1", "id")).alias("rk"))
    js = spark.range(0, _GMM_K).select(F.col("id").alias("j"))
    comp = (js.crossJoin(F.broadcast(nn))
            .withColumn("rk", F.expr("(2 * j + 1) * n div 6 + 1"))
            .join(rk, "rk")
            .crossJoin(F.broadcast(gv))
            .select("j", (F.lit(1.0) / _GMM_K).alias("w"),
                    F.col("x1").alias("m1"), F.col("x2").alias("m2"),
                    "v1", "v2")
            .transform(materialize, "iter"))
    two_pi = 2 * 3.141592653589793  # = 2*pi() in DuckDB (same double)
    for _ in range(_GMM_ROUNDS):
        # mirror the oracle's NULLIF(GREATEST(v,0),0) clamp (ADVICE r14):
        # a round-9 M-step variance can cancel to a tiny negative, and
        # only a symmetric clamp keeps ln()/division NULL on both engines
        v1c = F.nullif(F.greatest(F.col("v1"), F.lit(0.0)), F.lit(0.0))
        v2c = F.nullif(F.greatest(F.col("v2"), F.lit(0.0)), F.lit(0.0))
        q = (pts.crossJoin(F.broadcast(comp))
             .select("id", "j", "x1", "x2", F.round(
                 F.log(F.nullif(F.col("w"), F.lit(0.0)))
                 - 0.5 * F.round(F.log(F.lit(two_pi) * v1c), 9)
                 - 0.5 * F.round(F.log(F.lit(two_pi) * v2c), 9)
                 - 0.5 * ((F.col("x1") - F.col("m1"))
                          * (F.col("x1") - F.col("m1")) / v1c
                          + (F.col("x2") - F.col("m2"))
                          * (F.col("x2") - F.col("m2")) / v2c),
                 9).alias("q")))
        e_ = q.select(
            "id", "j", "x1", "x2",
            F.round(F.exp(F.col("q")
                          - F.max("q").over(W.partitionBy("id"))), 9)
            .alias("e"))
        resp = (e_.select(
            "id", "j", "x1", "x2",
            F.round(F.col("e") / F.sum(F.col("e").cast("decimal(20,9)"))
                    .over(W.partitionBy("id")).cast("double"), 9)
            .alias("resp")).transform(materialize))
        agg = resp.groupBy("j").agg(
            F.sum(F.col("resp").cast("decimal(20,9)")).cast("double")
            .alias("sr"),
            d30(F.round(F.col("resp") * F.col("x1"), 9)).alias("srx1"),
            d30(F.round(F.col("resp") * F.col("x2"), 9)).alias("srx2"),
            d30(F.round(F.col("resp")
                        * F.round(F.col("x1") * F.col("x1"), 9), 9))
            .alias("srxx1"),
            d30(F.round(F.col("resp")
                        * F.round(F.col("x2") * F.col("x2"), 9), 9))
            .alias("srxx2"))
        srn = F.nullif(F.col("sr"), F.lit(0.0))
        comp = (agg.crossJoin(F.broadcast(nn))
                .select(
                    "j",
                    (F.col("sr") / F.col("n")).alias("w"),
                    (F.col("srx1") / srn).alias("m1"),
                    (F.col("srx2") / srn).alias("m2"),
                    (F.round(F.col("srxx1") / srn
                             - (F.col("srx1") / srn)
                             * (F.col("srx1") / srn), 9) + 0.0)
                    .alias("v1"),
                    (F.round(F.col("srxx2") / srn
                             - (F.col("srx2") / srn)
                             * (F.col("srx2") / srn), 9) + 0.0)
                    .alias("v2"))
                .transform(materialize, "iter"))
    return comp.select(
        F.col("j").alias("component"), F.col("w").alias("weight"),
        (F.round("m1", 9) + 0.0).alias("m1"),
        (F.round("m2", 9) + 0.0).alias("m2"), "v1", "v2")


# ---------------------------------------------------------------------------
# DBSCAN via eps-grid bucketing (Ester et al. 1996). eps = 1/32 (BINARY
# exact, so cell = floor(x * 32) and eps^2 = 2^-10 are deterministic on
# both engines), minPts = 5.
# ---------------------------------------------------------------------------

_DB_EPS_INV = 32   # eps = 1/32
_DB_MINPTS = 5

_DBSCAN_SQL = f"""WITH RECURSIVE {_pts_sql()},
cells AS MATERIALIZED (
  SELECT id, x1, x2,
         CAST(floor(x1 * {_DB_EPS_INV}) AS BIGINT) AS cx,
         CAST(floor(x2 * {_DB_EPS_INV}) AS BIGINT) AS cy
  FROM pts
),
off AS (SELECT a.dx, b.dy
        FROM (SELECT UNNEST(range(-1, 2)) AS dx) a,
             (SELECT UNNEST(range(-1, 2)) AS dy) b),
nbr AS MATERIALIZED (
  -- each eps-near ordered pair exactly once: b's true cell matches one
  -- of a's 9 probe cells (eps = cell size bounds the offset to +-1)
  SELECT p.id AS a, c.id AS b
  FROM (SELECT c.id, c.x1, c.x2, c.cx + o.dx AS cx, c.cy + o.dy AS cy
        FROM cells c, off o) p
  JOIN cells c ON c.cx = p.cx AND c.cy = p.cy
  WHERE p.id <> c.id
    AND (p.x1 - c.x1) * (p.x1 - c.x1)
        + (p.x2 - c.x2) * (p.x2 - c.x2)
        <= CAST(1 AS DOUBLE) / ({_DB_EPS_INV} * {_DB_EPS_INV})
),
deg AS MATERIALIZED (
  SELECT p.id, 1 + COALESCE(n.c, 0) AS c
  FROM pts p LEFT JOIN (SELECT a AS id, CAST(COUNT(*) AS BIGINT) AS c
                        FROM nbr GROUP BY a) n ON n.id = p.id
),
core AS MATERIALIZED (SELECT id FROM deg WHERE c >= {_DB_MINPTS}),
edges AS MATERIALIZED (
  SELECT n.a AS src, n.b AS dst
  FROM nbr n JOIN core ca ON ca.id = n.a JOIN core cb ON cb.id = n.b
),
reach(src, dst) AS (
  SELECT id, id FROM core
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS MATERIALIZED (
  SELECT src AS id, MIN(dst) AS comp FROM reach GROUP BY src
),
border AS MATERIALIZED (
  SELECT n.a AS id, MIN(c.comp) AS comp
  FROM nbr n JOIN comp c ON c.id = n.b
  WHERE n.a NOT IN (SELECT id FROM core)
  GROUP BY n.a
),
lab AS MATERIALIZED (
  SELECT id, comp, 1 AS is_core FROM comp
  UNION ALL
  SELECT id, comp, 0 FROM border
)
SELECT comp AS cluster_id, CAST(COUNT(*) AS BIGINT) AS size,
       CAST(SUM(is_core) AS BIGINT) AS n_core,
       CAST(SUM(1 - is_core) AS BIGINT) AS n_border
FROM lab GROUP BY comp
UNION ALL
SELECT CAST(-1 AS BIGINT),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM pts)
         - (SELECT CAST(COUNT(*) AS BIGINT) FROM lab),
       CAST(0 AS BIGINT), CAST(0 AS BIGINT)
"""


@query("cluster_dbscan_grid", _DBSCAN_SQL)
def cluster_dbscan_grid(spark, sf_dir):
    """DBSCAN (Ester et al. 1996) on the first two embedding dims via
    EPS-GRID BUCKETING: candidate pairs come from an equi-join of each
    point's 9 probe cells against the cell index — a hash join whose
    cost is (points x 9) vs the O(n^2) naive pair scan, the standard
    distributed-DBSCAN shape (at 100 TB the grid cells ARE the shuffle
    partitioning key and skewed dense cells fall under the salting
    playbook). Core points (>= 5 eps-neighbors incl. self) connect into
    clusters via exact connected components (the convergence-checked
    bipartite min-label operator, pair-edges as 2-member buckets);
    border points take the MIN neighboring core's cluster; the rest is
    the noise row (cluster_id = -1). eps = 1/32 is binary-exact so the
    cell floor and distance comparisons are IEEE-identical on both
    engines."""
    from arangodb_java_parquet_spark.operators.curation import (
        connected_components_bipartite)
    pts = _pts(spark, sf_dir)
    inv = _DB_EPS_INV
    cells = pts.select(
        "id", "x1", "x2",
        F.floor(F.col("x1") * inv).cast("bigint").alias("cx"),
        F.floor(F.col("x2") * inv).cast("bigint").alias("cy"))
    offs = [F.lit(v) for v in (-1, 0, 1)]
    probe = (cells.select(
        "id", "x1", "x2",
        F.explode(F.array(*offs)).alias("dx"), "cx", "cy")
        .select("id", "x1", "x2",
                (F.col("cx") + F.col("dx")).alias("cx"),
                F.explode(F.array(*offs)).alias("dy"), "cy")
        .select("id", "x1", "x2", "cx",
                (F.col("cy") + F.col("dy")).alias("cy")))
    right = cells.select(F.col("id").alias("b"), F.col("x1").alias("bx1"),
                         F.col("x2").alias("bx2"), "cx", "cy")
    eps2 = F.lit(1.0) / (inv * inv)
    nbr = (probe.join(right, ["cx", "cy"])
           .filter((F.col("id") != F.col("b"))
                   & ((F.col("x1") - F.col("bx1"))
                      * (F.col("x1") - F.col("bx1"))
                      + (F.col("x2") - F.col("bx2"))
                      * (F.col("x2") - F.col("bx2")) <= eps2))
           .select(F.col("id").alias("a"), "b")
           .transform(materialize))
    deg = (pts.join(nbr.groupBy("a").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")),
        pts["id"] == F.col("a"), "left")
        .select("id", (F.lit(1) + F.coalesce(F.col("c"), F.lit(0)))
                .alias("c")))
    core = materialize(deg.filter(F.col("c") >= _DB_MINPTS).select("id"))
    ca = core.select(F.col("id").alias("a"))
    cb = core.select(F.col("id").alias("b"))
    edges = nbr.join(ca, "a").join(cb, "b").select("a", "b")
    # pair-edges as 2-member buckets for the exact (convergence-checked)
    # bipartite min-label components operator
    pairs = (edges.filter(F.col("a") < F.col("b"))
             .select(F.col("a").alias("lo"), F.col("b").alias("hi"))
             .distinct())
    membership = (pairs.select(F.col("lo").alias("node"), "lo", "hi")
                  .unionByName(
                      pairs.select(F.col("hi").alias("node"), "lo", "hi")))
    # min-label propagation needs graph-DIAMETER rounds; an eps-chain
    # can span hundreds of cells, so pass a worst-case bound instead of
    # the default 20 (the operator RAISES if still unconverged — review
    # r14; convergence exits early on real data)
    cc = connected_components_bipartite(membership, "node", ["lo", "hi"],
                                        max_iter=500)
    comp = (core.join(cc, core["id"] == cc["node"], "left")
            .select("id", F.coalesce(F.col("component"), F.col("id"))
                    .alias("comp"))
            .transform(materialize))
    border = (nbr.join(comp.select(F.col("id").alias("b"),
                                   F.col("comp").alias("bcomp")), "b")
              .join(core.select(F.col("id").alias("a")), "a", "left_anti")
              .groupBy("a").agg(F.min("bcomp").alias("comp"))
              .select(F.col("a").alias("id"), "comp"))
    lab = (comp.select("id", "comp", F.lit(1).alias("is_core"))
           .unionByName(border.select("id", "comp",
                                      F.lit(0).alias("is_core")))
           .transform(materialize))
    clusters = (lab.groupBy("comp")
                .agg(F.count(F.lit(1)).cast("bigint").alias("size"),
                     F.sum("is_core").cast("bigint").alias("n_core"),
                     F.sum(1 - F.col("is_core")).cast("bigint")
                     .alias("n_border"))
                .select(F.col("comp").alias("cluster_id"), "size",
                        "n_core", "n_border"))
    n_all = pts.agg(F.count(F.lit(1)).cast("bigint").alias("na"))
    n_lab = lab.agg(F.count(F.lit(1)).cast("bigint").alias("nl"))
    noise = (n_all.crossJoin(n_lab)
             .select(F.lit(-1).cast("bigint").alias("cluster_id"),
                     (F.col("na") - F.col("nl")).alias("size"),
                     F.lit(0).cast("bigint").alias("n_core"),
                     F.lit(0).cast("bigint").alias("n_border")))
    return clusters.unionByName(noise)


# ---------------------------------------------------------------------------
# Facility-location greedy selection (submodular coverage maximization) —
# the data-selection objective behind representative-subset curation
# (maximize sum_i max_{s in S} sim(i, s)); companion to the k-center
# (coreset_kcenter_greedy) MINIMAX objective already in the registry.
# ---------------------------------------------------------------------------

_FL_CANDS = 30  # candidate pool: vec_id < 30 (serving-shape bound)
_FL_K = 5       # greedy selections

def _fl_sql() -> str:
    na = f"sqrt({SQL_DOT.format(a='e.embedding', b='e.embedding')})"
    parts = [f"""WITH uni AS MATERIALIZED (
  SELECT e.vec_id AS i, e.embedding AS v, {na} AS nv FROM embeddings e
),
cand AS MATERIALIZED (
  SELECT i AS c, v AS cv, nv AS nc FROM uni WHERE i < {_FL_CANDS}
),
sims AS MATERIALIZED (
  SELECT c.c, u.i,
         ROUND({SQL_DOT.format(a='c.cv', b='u.v')}
               / NULLIF(c.nc * u.nv, 0), 9)
           AS s
  FROM uni u CROSS JOIN cand c
),
cov0 AS MATERIALIZED (SELECT i, CAST(0 AS DOUBLE) AS cov FROM uni)"""]
    for r in range(1, _FL_K + 1):
        excl = (f"WHERE s.c NOT IN (SELECT c FROM selu{r - 1})"
                if r > 1 else "")
        parts.append(f""",
gain{r} AS MATERIALIZED (
  SELECT s.c,
         CAST(SUM(CAST(ROUND(greatest(s.s - v.cov, CAST(0 AS DOUBLE)), 9)
                       AS DECIMAL(20,9))) AS DOUBLE) AS gain
  FROM sims s JOIN cov{r - 1} v ON v.i = s.i
  {excl}
  GROUP BY s.c
),
sel{r} AS MATERIALIZED (
  SELECT c, gain FROM gain{r} ORDER BY gain DESC, c ASC LIMIT 1
),
cov{r} AS MATERIALIZED (
  SELECT v.i, greatest(v.cov, sv.s) AS cov
  FROM cov{r - 1} v
  JOIN (SELECT s.i, s.s FROM sims s JOIN sel{r} x ON x.c = s.c) sv
    ON sv.i = v.i
),
obj{r} AS (SELECT CAST(SUM(CAST(cov AS DECIMAL(20,9))) AS DOUBLE)
             AS objective FROM cov{r}),
selu{r} AS ({"SELECT c FROM sel1" if r == 1 else
             f"SELECT c FROM selu{r - 1} UNION ALL SELECT c FROM sel{r}"})
""")
    finals = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS step, sel.c AS selected_id,"
        f" sel.gain, obj.objective FROM sel{r} sel, obj{r} obj"
        for r in range(1, _FL_K + 1))
    return "".join(parts) + "\n" + finals


@query("coreset_facility_location", _fl_sql())
def coreset_facility_location(spark, sf_dir):
    """FACILITY-LOCATION greedy selection: k=5 rounds of picking the
    candidate (pool: vec_id < 30) that maximizes the SUBMODULAR
    coverage gain sum_i max(sim(c,i) - cov_i, 0) over the whole corpus,
    reporting per-step gain and cumulative objective — the classic
    (1 - 1/e)-approximation for representative-subset selection, the
    coverage-maximizing companion to k-center's minimax radius. Norms
    are hoisted ONCE PER SIDE below the pair join (one HOF dot per
    pair); the candidate x corpus sim table is materialized once and
    every greedy round is one combinable aggregate + a 1-row TakeOrdered
    — no driver collect. At 100 TB the candidate pool comes from IVF
    cell representatives and sims is bucket-pruned, identical shape."""
    from arangodb_java_parquet_spark.operators.similarity import dot, norm
    e = t(spark, sf_dir, "embeddings")
    uni = materialize(e.select(
        F.col("vec_id").alias("i"), F.col("embedding").alias("v"),
        norm(F.col("embedding")).alias("nv")))
    cand = (uni.filter(F.col("i") < _FL_CANDS)
            .select(F.col("i").alias("c"), F.col("v").alias("cv"),
                    F.col("nv").alias("nc")))
    sims = (uni.crossJoin(F.broadcast(cand))
            .select("c", "i",
                    F.round(dot(F.col("cv"), F.col("v"))
                            / F.nullif(F.col("nc") * F.col("nv"),
                                       F.lit(0.0)), 9).alias("s"))
            .transform(materialize))
    cov = uni.select("i", F.lit(0.0).alias("cov"))
    selected = None
    out = []
    for r in range(1, _FL_K + 1):
        pool = sims if selected is None else \
            sims.join(selected, "c", "left_anti")
        gains = (pool.join(cov, "i")
                 .groupBy("c")
                 .agg(F.sum(F.round(
                     F.greatest(F.col("s") - F.col("cov"), F.lit(0.0)), 9)
                     .cast("decimal(20,9)")).cast("double").alias("gain")))
        sel = (gains.orderBy(F.desc("gain"), F.asc("c")).limit(1)
               .transform(materialize, "iter"))
        selected = sel.select("c") if selected is None else \
            selected.unionByName(sel.select("c"))
        ssel = sims.join(sel.select("c"), "c").select(
            "i", F.col("s").alias("ssel"))
        cov = (cov.join(ssel, "i")
               .select("i", F.greatest("cov", "ssel").alias("cov"))
               .transform(materialize, "iter"))
        obj = cov.agg(F.sum(F.col("cov").cast("decimal(20,9)"))
                      .cast("double").alias("objective"))
        out.append(sel.crossJoin(F.broadcast(obj)).select(
            F.lit(r).cast("bigint").alias("step"),
            F.col("c").alias("selected_id"), "gain", "objective"))
    from functools import reduce
    return reduce(lambda a, b: a.unionByName(b), out)
