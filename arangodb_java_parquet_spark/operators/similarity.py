"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline; the LSH-bucketed variant
(sign-random-projection buckets) is the approximate scale path that avoids
the full cross product.

Determinism: dot products accumulate LEFT-TO-RIGHT in double via
``F.aggregate`` (elements cast to double first — float*float widened to
double is exact), which is bit-identical to the DuckDB oracle's
``list_sum(list_transform(...))`` evaluation. Ranking uses the value rounded
to 9 decimals with an id tiebreak so ordering can't flip on last-ulp noise.

Scale: the query side is broadcast (top-k for a bounded query set); the
corpus side never shuffles. For corpus×corpus all-pairs use the LSH variant:
bucket first, then brute-force within buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Left-to-right double dot product of two array<float> columns.

    Deliberately the HOF (zip_with + aggregate) form, NOT a flat
    per-index codegen sum: a 64-dim flat expression generates a method
    past the JVM's JIT-compilable size, and the resulting
    interpreted-bytecode evaluation measured ~2.5x SLOWER than this
    tight interpreted HOF loop (A/B over 90k pairs at sf0.1:
    flat 3.4 s vs HOF 1.2 s). The scale rule that matters is evaluating
    ONE dot per pair — see topk_cosine_bruteforce."""
    prods = F.zip_with(a, b, lambda x, y:
                       x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    # NULLIF the norm product: a zero-norm vector yields NULL cosine on
    # both engines (Spark ANSI would abort; DuckDB returns inf) — the
    # divergence class swept r15. Values unchanged on nonzero norms.
    return dot(a, b) / F.nullif(norm(a) * norm(b), F.lit(0.0))


def topk_cosine_bruteforce(queries: DataFrame, corpus: DataFrame, *,
                           id_col: str, vec_col: str, k: int) -> DataFrame:
    """Exact top-k: broadcast the (small) query set against the corpus.

    Output: (qid, vid, cos_sim) with cos_sim rounded to 9 decimals and
    deterministic (rounded value, vid) ranking.

    Norms are computed ONCE PER SIDE below the pair join (a projection
    under a join is never collapsed into the pair projection), so the
    O(|Q|x|C|) projection evaluates a single dot product — not the
    3-HOF cosine re-expanded per pair (the round-4 scale-killer:
    19.8 s for 300x300 pairs). cos = dot/(norm_q*norm_c) is the same
    expression tree, so values are bit-identical either way.

    Pair scoring parallelism follows the CORPUS side's partitioning (the
    query side is broadcast): a real corpus already has many partitions,
    and at harness scale a repartition's exchange overhead measured
    larger than the single-task saving."""
    q = (queries.select(F.col(id_col).alias("qid"),
                        F.col(vec_col).alias("qvec"))
         .withColumn("qnrm", norm(F.col("qvec"))))
    c = (corpus.select(F.col(id_col).alias("vid"),
                       F.col(vec_col).alias("cvec"))
         .withColumn("cnrm", norm(F.col("cvec"))))
    pairs = (c.crossJoin(F.broadcast(q))
             .filter(F.col("qid") != F.col("vid"))
             .select("qid", "vid",
                     F.round(dot(F.col("qvec"), F.col("cvec"))
                             / F.nullif(F.col("qnrm") * F.col("cnrm"),
                                        F.lit(0.0)), 9)
                     .alias("cos_sim")))
    w = W.partitionBy("qid").orderBy(F.desc("cos_sim"), "vid")
    return (pairs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("qid", "vid", "cos_sim", "rn"))


# the SRP bucket width of topk_cosine_lsh and the bucketed oracles
SRP_BITS = 4


def srp_bucket(vec: Column, n_bits: int) -> Column:
    """Sign-random-projection LSH bucket id using the first ``n_bits``
    coordinate axes as (deterministic, engine-portable) hyperplanes:
    bit_i = 1 if vec[i] > 0. Real deployments draw random hyperplanes; axes
    keep the oracle portable while exercising the identical plan shape."""
    bits = [F.when(vec.getItem(i) > 0, F.lit(1)).otherwise(F.lit(0))
            for i in range(n_bits)]
    out = F.lit(0)
    for b in bits:
        out = out * 2 + b
    return out


# the IVF index: IVF_CELLS Lloyd centroids seeded by RandomState(IVF_SEED),
# and each query probes its IVF_PROBES nearest cells
IVF_CELLS, IVF_PROBES, IVF_SEED = 16, 4, 42


def ivf_fit_centroids(corpus: DataFrame, *, id_col: str, vec_col: str,
                      n_iter: int = 3) -> list:
    """FIT phase of the Lloyd-fitted IVF index: k-means-lite centroids
    over a bounded deterministic seed sample (see :func:`ivf_topk_cosine`
    for the full design rationale). Returns the centroid list — exactly
    the IVF_CELLS × dim floats every probe broadcasts, and the artifact
    the model store persists (queries/ann_stored.py) so daily probe jobs
    skip the fit.

    Centroid fitting is DISTRIBUTED Lloyd over a bounded seed sample: the
    first 2000 vectors BY ID via a distributed top-k
    (TakeOrderedAndProject), which is deterministic under any
    partitioning / file layout (a bare LIMIT would return whichever
    partitions scan first; a Bernoulli sample's per-partition seeding
    also shifts with layout). Each of the ``n_iter`` fixed iterations assigns
    cells via the broadcast-argmin expression (assign_cells — the same
    operator the corpus-scale assignment uses) and recomputes centroids
    with groupBy(cell, dim) decimal-exact means; only the IVF_CELLS ×
    dim SCALAR averages ever reach the driver (seed-vector ids are the
    one other collect — 2000 longs). No vector collect anywhere, so the
    fit itself is cluster-shaped: widen the sample and the same plan
    runs. At 100 TB cell assignment/probing remain fully distributed (a
    broadcast of IVF_CELLS × dim floats and one shuffle-free
    filter-join).

    Recall/speed trade: IVF_PROBES/IVF_CELLS of the corpus is scanned per
    query instead of all of it.

    r16 (VERDICT r15 #4): the Lloyd loop over the BOUNDED sample runs
    driver-side — ONE distributed job (the sample collect; the old
    TakeOrderedAndProject already pulled all 2000 vectors through the
    driver anyway) replaces the r15 protocol of 4 fixed jobs (ids
    collect, seed collect, one assignment+mean job per iteration), each
    ~0.5-1.2 s of scheduling/python-interop floor on a 2000-row frame —
    exactly the guide-§5 "driver coordinates, executors compute" balance
    INVERTED for data this small. Bit-identical to the distributed loop
    (pinned by tests/test_similarity.py::
    test_ivf_driver_fit_matches_distributed and the stored-model
    equality pins in tests/test_ann_stored.py, which compare against
    artifacts fit by the r15 code): the collect preserves the exact
    sample plan (orderBy→limit→repartition(8, sid)) whose partition
    order seeds rng.choice; assignment reuses the same numpy d2-argmin
    expression as the Arrow kernel (per-row reductions — batch split
    cannot change them); the per-(cell, dim) means replicate Spark's
    SUM(CAST(val AS DECIMAL(30,12)))/COUNT exactly via per-element
    half-up quantization to 1e-12 (shortest-repr decimal, the same
    BigDecimal.valueOf path Spark's float→decimal cast takes) summed as
    exact Python integers, because an int64 sum wraps silently (2000
    elements of 5e3 sum past 2^63). ``ivf_fit_centroids_distributed``
    keeps the cluster-shaped loop for a widened sample (the 100 TB
    posture when the sample no longer fits a driver collect).
    """
    import numpy as np

    rows = _ivf_sample(corpus, id_col=id_col, vec_col=vec_col).collect()
    centroids = _ivf_seeds(rows)
    X = np.array([[float(v) for v in r["svec"]] for r in rows],
                 dtype="float64")
    # per-element quantization to DECIMAL(30,12), half-up — computed once
    # (it does not depend on the iteration); object dtype keeps Python
    # ints, so the per-cell sums are exact at any magnitude
    from decimal import ROUND_HALF_UP, Decimal
    one_e12 = Decimal(1).scaleb(-12)
    Q = np.array([[int(Decimal(repr(v)).quantize(one_e12, ROUND_HALF_UP)
                       .scaleb(12)) for v in row] for row in X.tolist()],
                 dtype=object)
    for _ in range(n_iter):
        C = np.asarray(centroids, dtype="float64")
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        cells = d2.argmin(axis=1)
        centroids = [
            [float(Decimal(int(s)).scaleb(-12)) / int(cnt)
             for s in Q[cells == c].sum(axis=0).tolist()]
            if (cnt := int((cells == c).sum())) else centroids[c]
            for c in range(len(centroids))]
    return centroids


def _ivf_sample(corpus: DataFrame, *, id_col: str, vec_col: str):
    """The bounded deterministic seed sample — orderBy→limit→repartition
    EXACTLY as r15 shaped it: the repartition(8, sid) partition order is
    what seeds rng.choice, so it is part of the fit's determinism
    contract (the stored-model equality pins depend on it)."""
    return (corpus.select(F.col(id_col).alias("sid"),
                          F.col(vec_col).alias("svec"))
            .orderBy("sid").limit(2000).repartition(8, "sid"))


def _ivf_seed_ids(ids: list) -> set:
    """The sample ids whose vectors seed the Lloyd loop."""
    import numpy as np
    rng = np.random.RandomState(IVF_SEED)
    return {ids[i] for i in rng.choice(
        len(ids), size=min(IVF_CELLS, len(ids)), replace=False)}


def _ivf_seeds(rows) -> list:
    chosen = _ivf_seed_ids([r["sid"] for r in rows])
    return [[float(v) for v in r["svec"]]
            for r in sorted((r for r in rows if r["sid"] in chosen),
                            key=lambda r: r["sid"])]


def ivf_fit_centroids_distributed(corpus: DataFrame, *, id_col: str,
                                  vec_col: str, n_iter: int = 3) -> list:
    """The r15 cluster-shaped Lloyd loop (one distributed job per
    iteration: Arrow-kernel assignment + posexplode + narrow decimal-mean
    groupBy; only IVF_CELLS × dim scalars reach the driver per round).
    Kept as the widened-sample path and as the equality pin's reference:
    ivf_fit_centroids (driver-side, default) must reproduce it
    bit-for-bit on the bounded sample."""
    sample = _ivf_sample(corpus, id_col=id_col, vec_col=vec_col).cache()
    chosen = _ivf_seed_ids([r["sid"] for r in
                            sample.select("sid").collect()])
    centroids = [[float(v) for v in r["svec"]] for r in
                 sample.filter(F.col("sid").isin(list(chosen)))
                 .orderBy("sid").collect()]
    dim = len(centroids[0])

    from arangodb_java_parquet_spark.operators._ivf_kernel import (
        make_cell_udf as _cell_udf)

    for _ in range(n_iter):
        rows = (sample
                .select(_cell_udf(centroids)(F.col("svec")).alias("cell"),
                        F.posexplode("svec").alias("pos", "val"))
                .groupBy("cell", "pos")
                .agg((F.sum(F.col("val").cast("decimal(30,12)"))
                      .cast("double") / F.count(F.lit(1))).alias("m"))
                .collect())
        means: dict = {}
        for r in rows:
            means.setdefault(r["cell"], {})[r["pos"]] = float(r["m"])
        centroids = [
            [means[c][p] for p in range(dim)] if c in means else centroids[c]
            for c in range(len(centroids))]
    sample.unpersist()
    return centroids


def ivf_probe(queries: DataFrame, corpus: DataFrame, centroids: list, *,
              id_col: str, vec_col: str, k: int) -> DataFrame:
    """PROBE phase of the Lloyd-fitted IVF index: assign corpus vectors
    to their nearest centroid, route each query to its ``IVF_PROBES``
    nearest cells, exact cosine within the probed cells only.
    ``centroids`` is the fitted list (inline from
    :func:`ivf_fit_centroids` or reloaded from the model store) — it
    enters the plan as a broadcast literal array, so the probe is one
    equi-join on cell with zero python stages."""
    cent_arr = F.array(*[
        F.array(*[F.lit(v) for v in c]) for c in centroids])

    def nearest_cells(vec: Column, n: int) -> Column:
        # distances to each centroid via transform over the literal array,
        # then take indices of the n smallest — all JVM expressions
        dists = F.transform(
            cent_arr,
            lambda c: F.aggregate(
                F.zip_with(c, vec, lambda x, y: (x - y.cast("double")) ** 2),
                F.lit(0.0), lambda a, v: a + v))
        idx = F.transform(dists, lambda d, i: F.struct(d.alias("d"),
                                                      i.alias("i")))
        return F.slice(F.transform(F.array_sort(idx), lambda s: s["i"]),
                       1, n)

    q = (queries.select(F.col(id_col).alias("qid"),
                        F.col(vec_col).alias("qvec"),
                        F.explode(nearest_cells(F.col(vec_col), IVF_PROBES))
                        .alias("cell"))
         .withColumn("qnrm", norm(F.col("qvec"))))
    c = (corpus.select(F.col(id_col).alias("vid"),
                       F.col(vec_col).alias("cvec"),
                       nearest_cells(F.col(vec_col), 1).getItem(0)
                       .alias("cell"))
         .withColumn("cnrm", norm(F.col("cvec"))))
    pairs = (c.join(F.broadcast(q), "cell")
             .filter(F.col("qid") != F.col("vid"))
             .select("qid", "vid",
                     F.round(dot(F.col("qvec"), F.col("cvec"))
                             / F.nullif(F.col("qnrm") * F.col("cnrm"),
                                        F.lit(0.0)), 9)
                     .alias("cos_sim")))
    # a (qid, vid) pair can appear once per probed cell — dedup before rank
    return (pairs.groupBy("qid", "vid")
            .agg(F.first("cos_sim").alias("cos_sim"))
            .withColumn("rn", F.row_number().over(
                W.partitionBy("qid").orderBy(F.desc("cos_sim"), "vid")))
            .filter(F.col("rn") <= k)
            .select("qid", "vid", "cos_sim", "rn"))


def ivf_topk_cosine(queries: DataFrame, corpus: DataFrame, *,
                    id_col: str, vec_col: str, k: int,
                    n_iter: int) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means-lite centroids
    partition the corpus into cells; each query probes only its
    ``IVF_PROBES`` nearest cells. Inline composition of
    :func:`ivf_fit_centroids` + :func:`ivf_probe`; the
    fit-once/probe-later split goes through the model store
    (queries/ann_stored.py).

    Recall/speed trade: IVF_PROBES/IVF_CELLS of the corpus is scanned per
    query instead of all of it.
    """
    centroids = ivf_fit_centroids(corpus, id_col=id_col, vec_col=vec_col,
                                  n_iter=n_iter)
    return ivf_probe(queries, corpus, centroids, id_col=id_col,
                     vec_col=vec_col, k=k)


def topk_cosine_lsh(queries: DataFrame, corpus: DataFrame, *,
                    id_col: str, vec_col: str, k: int,
                    n_bits: int = SRP_BITS) -> DataFrame:
    """Approximate top-k: equi-join on the ``n_bits``-bit SRP bucket, then
    exact cosine within the bucket. Replaces the O(|Q|·|C|) cross product
    with O(|Q|·|C| / 2^n_bits) expected comparisons and a shuffle on
    bucket id.
    Norms per side below the join, single dot per pair (see
    topk_cosine_bruteforce)."""
    q = (queries.select(F.col(id_col).alias("qid"),
                        F.col(vec_col).alias("qvec"),
                        srp_bucket(F.col(vec_col), n_bits).alias("bucket"))
         .withColumn("qnrm", norm(F.col("qvec"))))
    c = (corpus.select(F.col(id_col).alias("vid"),
                       F.col(vec_col).alias("cvec"),
                       srp_bucket(F.col(vec_col), n_bits).alias("bucket"))
         .withColumn("cnrm", norm(F.col("cvec"))))
    pairs = (c.join(F.broadcast(q), "bucket")
             .filter(F.col("qid") != F.col("vid"))
             .select("qid", "vid",
                     F.round(dot(F.col("qvec"), F.col("cvec"))
                             / F.nullif(F.col("qnrm") * F.col("cnrm"),
                                        F.lit(0.0)), 9)
                     .alias("cos_sim")))
    w = W.partitionBy("qid").orderBy(F.desc("cos_sim"), "vid")
    return (pairs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("qid", "vid", "cos_sim", "rn"))


def centroid_d2(vec: Column, cvec: Column) -> Column:
    """Rounded squared-L2 distance between two array<float> columns (same
    left-to-right double accumulation as the oracle's list_transform)."""
    return F.round(F.aggregate(
        F.zip_with(vec, cvec, lambda x, y:
                   (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0), lambda a, v: a + v), 9)


def centroid_scores(cents: DataFrame, vec_col: str) -> "tuple":
    """Build the broadcast-scalar centroid array and the per-row scored
    expression: a 1-row DataFrame holding collect_list(struct(cid, cvec))
    to crossJoin(broadcast(...)), and a Column of
    array<struct<d2, cid>> distances for ``vec_col``. Downstream argmin /
    top-n is then array_min / slice(array_sort(...)) — pure codegen
    expressions, NO per-(vector, centroid) intermediate rows and NO
    shuffle, versus the crossJoin+window formulation that materializes
    n_vectors x n_centroids rows and sorts them. Centroid count is a
    bounded constant in IVF, so the scalar array stays broadcast-sized at
    any corpus scale.
    """
    cents_arr = cents.agg(
        F.collect_list(F.struct("cid", "cvec")).alias("__cs"))
    scored = F.transform(
        F.col("__cs"), lambda c: F.struct(
            centroid_d2(F.col(vec_col), c["cvec"]).alias("d2"),
            c["cid"].alias("cid")))
    return cents_arr, scored


def assign_cells(emb: DataFrame, cents: DataFrame, *, id_col: str,
                 vec_col: str) -> DataFrame:
    """Assign every vector to its nearest centroid — argmin over the
    broadcast centroid array via array_min on (d2, cid) structs, which is
    exactly ROW_NUMBER() OVER (ORDER BY d2, cid) = 1 but with zero extra
    rows or shuffles. Output: (id, vec, cell)."""
    cents_arr, scored = centroid_scores(cents, vec_col)
    # coalesce makes the cell expression NON-nullable: otherwise a later
    # equi-join on cell infers an isnotnull(cell) constraint that gets
    # pushed into this join's CONDITION, evaluating the whole centroid
    # argmin a second time per row (visible as the array_min expression
    # duplicated into the BroadcastNestedLoopJoin condition in the plan)
    return (emb.crossJoin(F.broadcast(cents_arr))
            .select(F.col(id_col), F.col(vec_col),
                    F.coalesce(F.array_min(scored)["cid"], F.lit(-1))
                    .alias("cell")))


def semdedup_prune(emb: DataFrame, *, id_col: str, vec_col: str,
                   cent_mod: int = 37, tau: float = 0.4) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then compare pairs only
    WITHIN a cluster and drop every vector that has a higher-similarity
    "representative" with a smaller id. The clustering bounds the pairwise
    stage to O(sum k_c^2) over cell sizes instead of O(n^2) — exactly the
    published design, which is what makes semantic dedup feasible at
    corpus scale (cells are capped in practice by the centroid count).

    Centroids here are a deterministic rule (every ``cent_mod``-th vector)
    rather than fitted k-means so the whole operator — assignment, in-cell
    pairs, prune verdicts — value-checks against a SQL oracle; the fitted
    variant would swap in KMeans centroids with the identical plan shape
    (broadcast centroids -> map-side argmin -> cell equi-join).

    Output: one row per DROPPED vector: (id, cell, n_dups, max_cos) where
    n_dups counts its >= tau in-cell partners with smaller id.
    """
    cents = (emb.filter(F.col(id_col) % cent_mod == 0)
             .select(F.col(id_col).alias("cid"),
                     F.col(vec_col).alias("cvec")))
    # norm precomputed per VECTOR (identical left-to-right sum as a
    # per-pair norm, so cosine values are bit-equal) -> the in-cell pair
    # stage runs one dot product instead of three. The explicit
    # repartition on the join key materializes assignment+norm in ONE
    # Exchange that Catalyst reuses for both sides of the self-join
    # (ReusedExchange) — without it each side re-evaluates the centroid
    # argmin projection — and the join is then co-partitioned (no further
    # shuffle).
    cells = (assign_cells(emb, cents, id_col=id_col, vec_col=vec_col)
             .withColumn("__nrm", norm(F.col(vec_col)))
             .repartition("cell"))
    a = cells.alias("a")
    b = (cells.withColumnRenamed(id_col, "__idb")
         .withColumnRenamed(vec_col, "__vecb")
         .withColumnRenamed("__nrm", "__nrmb").alias("b"))
    cos = F.round(dot(F.col(f"a.{vec_col}"), F.col("b.__vecb"))
                  / F.nullif(F.col("a.__nrm") * F.col("b.__nrmb"),
                             F.lit(0.0)), 9)
    # barrier before the tau filter — otherwise Catalyst pushes the
    # inlined cos_sim predicate into the cell join's condition and every
    # in-cell pair pays the HOF dot twice (r15, the fuzzy-levenshtein
    # duplicated-evaluation class). kind="barrier": single consumer, so
    # reliable mode must not 2x-replicate the full pre-threshold pair
    # set (ADVICE r15).
    from arangodb_java_parquet_spark.materialize import materialize
    return (a.join(b, (F.col("a.cell") == F.col("b.cell"))
                   & (F.col(f"a.{id_col}") < F.col("b.__idb")))
            .select(F.col("b.__idb").alias(id_col),
                    F.col("a.cell").alias("cell"),
                    cos.alias("cos_sim"))
            .transform(materialize, "barrier")
            .filter(F.col("cos_sim") >= tau)
            .groupBy(id_col, "cell")
            .agg(F.count(F.lit(1)).alias("n_dups"),
                 F.max("cos_sim").alias("max_cos")))


def pq_codebook(emb: DataFrame, *, id_col: str, vec_col: str) -> DataFrame:
    """1-row DataFrame holding the sorted codeword array for product
    quantization, every 37th vector by id:
    array_sort(collect_list(struct(cid, cvec))) — the sort makes the
    array order deterministic (collect_list order is not)."""
    return (emb.filter(F.col(id_col) % 37 == 0)
            .select(F.col(id_col).alias("cid"),
                    F.col(vec_col).alias("cvec"))
            .agg(F.array_sort(F.collect_list(F.struct("cid", "cvec")))
                 .alias("__cb")))


# product quantization splits a 64-float vector into PQ_SUBS subvectors
# of PQ_SUB_DIM floats each
PQ_SUBS, PQ_SUB_DIM = 8, 8


def _sub_d2(vec: Column, cvec: Column, s: int) -> Column:
    """Rounded squared-L2 between subvectors s of two full vectors."""
    return centroid_d2(F.slice(vec, s * PQ_SUB_DIM + 1, PQ_SUB_DIM),
                       F.slice(cvec, s * PQ_SUB_DIM + 1, PQ_SUB_DIM))


def pq_encode(emb: DataFrame, *, id_col: str, vec_col: str,
              emit: str = "cid",
              impl: str = "jvm",
              cb_from: DataFrame | None = None) -> DataFrame:
    """Product quantization encode (Jégou et al. 2011, the FAISS PQ
    scheme): split each vector into ``PQ_SUBS`` subvectors and store, per
    subspace, only the id of the nearest codeword — compressing a
    64-float embedding to PQ_SUBS small ints, the representation that lets
    billion-vector indexes fit in memory.

    Codewords here are the sub-slices of a deterministic rule subset
    (:func:`pq_codebook`: every 37th vector), so encoding is fully
    value-checkable against a SQL oracle; a fitted variant would train
    per-subspace k-means with the identical plan. The codebook is a
    broadcast scalar array; per-row argmin per subspace is a pure expression
    (array_min over (d2, cid) structs) — no joins, no shuffle, and the
    encode stage scales linearly with the corpus.

    ``emit="cid"`` outputs codeword IDs (pq_code: array<bigint>);
    ``emit="pos"`` outputs 0-based POSITIONS in the sorted codebook
    (pq_pos: array<int>) — the form ADC lookup tables index by. Only the
    requested form is computed (the argmin expression would otherwise be
    evaluated twice per subspace). ``emit="struct"`` outputs the raw
    argmin structs (pq_best: array<struct<d2,cid,pos>>) — ONE argmin
    evaluation per subspace from which BOTH forms are cheap transforms;
    the form a caller materializes once when several consumers need
    different forms (queries/similarity._pq_fit_shared).

    ``impl`` selects the execution path. ``"jvm"`` (default, the oracle
    path) evaluates the argmin as pure Catalyst expressions — engine-
    portable and hash-checkable, but the nested transform/aggregate HOFs
    are CodegenFallback-interpreted (~ms/row). ``"arrow"`` is the
    production path: the same argmin as vectorized numpy inside
    mapInPandas — identical codes (pinned by
    tests/test_similarity.py::test_pq_encode_arrow_matches_jvm), ~10×
    faster, and the per-batch working set is bounded by a row-chunked
    (rows × codewords × PQ_SUB_DIM) distance block regardless of corpus
    size. Both paths broadcast the codebook and scale linearly with zero
    shuffles.

    ``cb_from`` (optional) derives the codebook from a DIFFERENT frame
    than the one being encoded — the incremental-append shape, where a
    new batch must encode against the FULL corpus's codebook (filtering
    the batch AFTER encoding would either change the codebook or, on the
    arrow path, encode the whole corpus because a filter cannot push
    below mapInPandas).

    Output: (id, vec, pq_code | pq_pos).
    """
    cb = pq_codebook(cb_from if cb_from is not None else emb,
                     id_col=id_col, vec_col=vec_col)
    if impl == "arrow":
        return _pq_encode_arrow(emb, cb, id_col=id_col, vec_col=vec_col,
                                emit=emit)

    # NB: factory fn, not a `lambda c, s=s` default-arg closure — a
    # two-parameter PySpark HOF lambda means (element, index); here the
    # index parameter is used ON PURPOSE to carry the codebook position
    # (it cannot influence the argmin: cid is unique, so (d2, cid)
    # decides before pos is compared)
    def best_expr(s: int) -> Column:
        return F.array_min(F.transform(
            F.col("__cb"), lambda c, i: F.struct(
                _sub_d2(F.col(vec_col), c["cvec"], s)
                .alias("d2"),
                c["cid"].alias("cid"),
                i.alias("pos"))))

    if emit == "cid":
        codes = [F.coalesce(best_expr(s)["cid"], F.lit(-1))
                 for s in range(PQ_SUBS)]
        out = F.array(*codes).alias("pq_code")
    elif emit == "struct":
        out = F.array(*[best_expr(s)
                        for s in range(PQ_SUBS)]).alias("pq_best")
    else:
        codes = [F.coalesce(best_expr(s)["pos"], F.lit(-1))
                 for s in range(PQ_SUBS)]
        out = F.array(*codes).alias("pq_pos")
    return (emb.crossJoin(F.broadcast(cb))
            .select(F.col(id_col), F.col(vec_col), out))


def _pq_encode_arrow(emb: DataFrame, cb: DataFrame, *, id_col: str,
                     vec_col: str, emit: str) -> DataFrame:
    """Vectorized PQ encode: numpy argmin per subspace over Arrow batches.

    Mirrors the JVM expression bit-for-bit on real data: per-subspace d2
    accumulates LEFT-TO-RIGHT in double (explicit column loop — numpy's
    pairwise ``sum`` reorders additions), rounds to 9 decimals, and
    breaks ties by smallest cid (the codebook is cid-sorted, so numpy's
    first-occurrence ``argmin`` IS the (d2, cid) struct-min). The only
    theoretical divergence is a d2 landing exactly half-way at the 10th
    decimal (np.round half-even vs Spark HALF_UP) — unobservable on
    float-derived distances; the equality test pins it empirically.

    The codebook is collected once on the driver (bounded: real PQ uses
    ≤256 codewords/subspace) and ships inside the closure; distances are
    computed in row-chunks of 1024 so executor memory stays
    O(1024 × codewords × PQ_SUB_DIM) at any corpus size.
    """
    import numpy as np

    from arangodb_java_parquet_spark.shipping import ensure_package_shipped
    ensure_package_shipped(emb.sparkSession)

    rows = cb.collect()[0]["__cb"]
    cids = np.array([r["cid"] for r in rows], dtype="int64")
    C = np.array([[float(v) for v in r["cvec"]] for r in rows],
                 dtype="float64")

    out_col = "pq_code" if emit == "cid" else "pq_pos"
    out_typ = "array<bigint>" if emit == "cid" else "array<int>"
    vec_typ = emb.schema[vec_col].dataType.simpleString()
    schema = (f"{id_col} {emb.schema[id_col].dataType.simpleString()}, "
              f"{vec_col} {vec_typ}, {out_col} {out_typ}")

    def encode_batches(batches):
        import pandas as pd
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array([np.asarray(v, dtype="float64")
                          for v in pdf[vec_col]])
            codes = np.empty((len(X), PQ_SUBS), dtype="int64")
            for lo in range(0, len(X), 1024):
                Xc = X[lo:lo + 1024]
                for s in range(PQ_SUBS):
                    sl = slice(s * PQ_SUB_DIM, (s + 1) * PQ_SUB_DIM)
                    sq = (Xc[:, None, sl] - C[None, :, sl]) ** 2
                    acc = sq[:, :, 0]
                    for j in range(1, PQ_SUB_DIM):
                        acc = acc + sq[:, :, j]
                    pos = np.round(acc, 9).argmin(axis=1)
                    codes[lo:lo + len(Xc), s] = (cids[pos] if emit == "cid"
                                                 else pos)
            yield pd.DataFrame({id_col: pdf[id_col], vec_col: pdf[vec_col],
                                out_col: list(codes)})

    return emb.select(id_col, vec_col).mapInPandas(encode_batches,
                                                   schema=schema)


def pq_adc_topk(queries: DataFrame, encoded: DataFrame, cb: DataFrame, *,
                id_col: str, vec_col: str, k: int) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes, the FAISS ADC scheme:
    approximate dist(q, x) = sum_s d2(q_s, codeword(code_s(x))).

    Per-QUERY lookup tables, the trick that makes ADC fast: each query
    row precomputes, per subspace, the d2 to EVERY codeword (an array
    aligned with codebook position) BEFORE meeting the corpus — a few
    rows times PQ_SUBS * |codebook| work. The corpus side then carries only
    (id, pq_pos) and each pair costs PQ_SUBS O(1) element_at lookups plus
    decimal adds; no embeddings are read or decoded on the corpus scan,
    which is the entire point of PQ at billion-vector scale.

    ``encoded`` must come from pq_encode(..., emit="pos").

    Determinism: LUT entries are d2 rounded to 9 digits stored as exact
    decimals; the per-pair sum is decimal (associative, order-free), so
    an oracle's unordered SUM over cid-joined subspace distances matches
    bit-for-bit. Output: (qid, vid, adc_dist, rn).
    """
    def lut_expr(s: int) -> Column:
        return F.transform(
            F.col("__cb"),
            lambda c: _sub_d2(F.col("qvec"), c["cvec"], s)
            .cast("decimal(20,9)"))

    q = (queries.select(F.col(id_col).alias("qid"),
                        F.col(vec_col).alias("qvec"))
         .crossJoin(F.broadcast(cb))
         .select("qid", *[lut_expr(s).alias(f"__lut{s}")
                          for s in range(PQ_SUBS)]))
    pairs = (encoded.select(F.col(id_col).alias("vid"), "pq_pos")
             .crossJoin(F.broadcast(q))
             .filter(F.col("qid") != F.col("vid")))
    terms = [F.element_at(F.col(f"__lut{s}"),
                          F.col("pq_pos").getItem(s) + 1)
             for s in range(PQ_SUBS)]
    adc = sum(terms[1:], terms[0]).cast("double")
    ranked = (pairs.select("qid", "vid", adc.alias("adc_dist"))
              .withColumn("rn", F.row_number().over(
                  W.partitionBy("qid").orderBy("adc_dist", "vid")))
              .filter(F.col("rn") <= k))
    return ranked


def ivfpq_fit(corpus: DataFrame, *, id_col: str, vec_col: str) -> "tuple":
    """FIT phase of the IVF-PQ index: coarse centroids (rule: every
    31st vector), the cell-routed PQ-encoded corpus, and the PQ codebook
    (every 37th vector, :func:`pq_codebook`). Returns plain DataFrames —
    exactly the three artifacts a production pipeline persists once
    (operators/models.py) and probes daily; the parquet round-trip is
    exact (float32 lists, int arrays), so a stored index probes
    bit-identically to the inline composition (pinned by
    tests/test_similarity.py).

    Returns ``(cents, enc, cb)``: (cid, cvec) / (vid, pq_pos, cell) /
    the 1-row codebook.
    """
    cents = (corpus.filter(F.col(id_col) % 31 == 0)
             .select(F.col(id_col).alias("cid"),
                     F.col(vec_col).alias("cvec")))
    cells = assign_cells(corpus, cents, id_col=id_col, vec_col=vec_col) \
        .select(F.col(id_col), F.col("cell"))
    enc = (pq_encode(corpus, id_col=id_col, vec_col=vec_col, emit="pos")
           .select(F.col(id_col).alias("vid"), "pq_pos")
           .join(cells.withColumnRenamed(id_col, "vid"), "vid"))
    cb = pq_codebook(corpus, id_col=id_col, vec_col=vec_col)
    return cents, enc, cb


def ivfpq_probe(queries: DataFrame, cents: DataFrame, enc: DataFrame,
                cb: DataFrame, *, id_col: str, vec_col: str,
                k: int) -> DataFrame:
    """PROBE phase of the IVF-PQ index: route each query to its
    ``IVF_PROBES`` nearest coarse cells, build per-query subspace LUTs
    against the broadcast codebook, and ADC-score only the probed cells'
    codes. This is the recurring per-batch cost of a fitted index — the
    corpus artifacts (``cents``/``enc``/``cb``) arrive as DataFrames,
    inline-derived or reloaded from the model store. At scale ``enc``
    would be WRITTEN partitioned by cell so probes prune at the scan.

    Output: (qid, vid, adc_dist, rn<=k).
    """
    # probe list: top-IVF_PROBES cells per query by coarse d2
    cents_arr, scored = centroid_scores(cents, "qvec")
    q_base = queries.select(F.col(id_col).alias("qid"),
                            F.col(vec_col).alias("qvec"))
    probes = (q_base.crossJoin(F.broadcast(cents_arr))
              .select("qid", "qvec",
                      F.explode(F.slice(F.array_sort(scored), 1, IVF_PROBES))
                      .alias("pr"))
              .select("qid", "qvec", F.col("pr.cid").alias("cell")))

    # per-query subspace LUTs (same construction as pq_adc_topk)
    def lut_expr(s: int):
        return F.transform(
            F.col("__cb"),
            lambda c: _sub_d2(F.col("qvec"), c["cvec"], s)
            .cast("decimal(20,9)"))

    q_lut = (probes.crossJoin(F.broadcast(cb))
             .select("qid", "cell",
                     *[lut_expr(s).alias(f"__lut{s}")
                       for s in range(PQ_SUBS)]))
    pairs = (enc.join(F.broadcast(q_lut), "cell")
             .filter(F.col("qid") != F.col("vid")))
    terms = [F.element_at(F.col(f"__lut{s}"),
                          F.col("pq_pos").getItem(s) + 1)
             for s in range(PQ_SUBS)]
    adc = sum(terms[1:], terms[0]).cast("double")
    return (pairs.select("qid", "vid", adc.alias("adc_dist"))
            .withColumn("rn", F.row_number().over(
                W.partitionBy("qid").orderBy("adc_dist", "vid")))
            .filter(F.col("rn") <= k))


# Oracle-checked registry entries that deliberately consume the Arrow
# gram_matrix_arrow path inside a hash-compared query. This is THE
# canonical exemption list for the "no python in oracle-checked plans"
# gate (tests/test_plans.py imports it): additions are legitimate ONLY
# because the Arrow stage is exact scaled-int64 accumulation pinned
# bit-identical to the JVM decimal formulation by
# tests/test_similarity.py::test_gram_matrix_arrow_matches_jvm (full
# matrix) and ::test_pca_gram_input_matches_jvm (the exact DataFrame the
# PCA chain consumes) — so the python stage cannot perturb the hashes.
# Any new consumer MUST ride the same pinned gram (or add its own
# equality pin) before being added here.
ARROW_GRAM_CONSUMERS = frozenset({
    "emb_pca_power_iteration",      # VERDICT r10 #3 cutover
    "emb_pca_explained_variance",   # same shared _pca_gram_and_v chain
    "emb_linear_cka",               # all 3 covariance blocks are sub-blocks
                                    # of the one pinned d×d Gram
})

# Oracle-checked entries that deliberately consume the Arrow PQ-encode
# path (_pq_encode_arrow) inside a hash-compared query — the same
# exemption contract as ARROW_GRAM_CONSUMERS above: legitimate ONLY
# because the numpy argmin mirrors the JVM expression bit-for-bit
# (left-to-right double d2 accumulation, round-9, first-occurrence
# argmin == (d2, cid) struct-min on the cid-sorted codebook), pinned by
# tests/test_similarity.py::test_pq_encode_arrow_matches_jvm on the real
# corpus. Added r16 (VERDICT r15 #2): the incremental-append batch
# encode moves off the interpreted JVM argmin (~10× of the entry's
# cost); disclosed python_stages grows 12 -> 13 in PLAN_REPORT.md.
ARROW_PQ_CONSUMERS = frozenset({
    "sim_index_incremental_append",
})


# decimals each gram_matrix_arrow product is rounded to
GRAM_SCALE = 8


def gram_matrix_arrow(emb: DataFrame, *, dim: int = 64) -> DataFrame:
    """Distributed Gram matrix G = Σ v·vᵀ (upper triangle, 1-based i<=j)
    of the ``embedding`` column, Arrow production path.

    The JVM formulation (queries/similarity.py:emb_gram_matrix) explodes
    d²/2 rows PER VECTOR through the aggregator — fine at d=64, a
    scale-killer at production dims (768-4096 → 0.3M-8M rows/vector).
    Here each partition computes ONE d×d partial via numpy outer
    products and emits exactly d(d+1)/2 rows regardless of row count, so
    the shuffle volume is (#partitions × d²/2) — independent of corpus
    size. This is the right 100 TB shape: at d=4096 a partition ships
    ~8M rows once, not per vector.

    Determinism (mirrors the JVM decimal path bit-for-bit): each
    per-element product is rounded to GRAM_SCALE decimals and accumulated
    as an exact scaled int64 — the numpy analog of
    SUM(CAST(prod AS DECIMAL(30,8))) — then the final bigint sum divides
    by 10^GRAM_SCALE (both the decimal→double cast and this division return
    the nearest double to the same exact rational). The only theoretical
    divergence is a product landing exactly half-way at the (GRAM_SCALE+1)-th
    decimal (np.round half-even vs Java HALF_UP) — unobservable on
    float-derived products; tests/test_similarity.py::
    test_gram_matrix_arrow_matches_jvm pins equality empirically, same
    pattern as the PQ arrow twin.

    int64 headroom: |v_i| ≤ O(1) ⇒ scaled products ≤ ~10^GRAM_SCALE; the
    per-partition partial stays far below 2^63 up to ~10^10 rows per
    partition at GRAM_SCALE=8.
    """
    import numpy as np

    from arangodb_java_parquet_spark.shipping import ensure_package_shipped
    ensure_package_shipped(emb.sparkSession)

    mul = float(10 ** GRAM_SCALE)

    def partial_gram(batches):
        import pandas as pd
        acc = np.zeros((dim, dim), dtype="int64")
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            seen = True
            X = np.array([np.asarray(v, dtype="float64")
                          for v in pdf["embedding"]])
            # row-chunks bound the (chunk × d × d) product tensor to a few
            # MB at any batch size
            for lo in range(0, len(X), 256):
                Xc = X[lo:lo + 256]
                P = Xc[:, :, None] * Xc[:, None, :]
                acc += np.round(P * mul).astype("int64").sum(axis=0)
        if seen:
            iu = np.triu_indices(dim)
            yield pd.DataFrame({"i": (iu[0] + 1).astype("int64"),
                                "j": (iu[1] + 1).astype("int64"),
                                "sg": acc[iu]})

    part = emb.select("embedding").mapInPandas(
        partial_gram, schema="i bigint, j bigint, sg bigint")
    return (part.groupBy("i", "j")
            .agg((F.sum("sg") / F.lit(mul)).alias("g")))


def nndescent_knn_graph(vectors: DataFrame, *, id_col: str, vec_col: str,
                        k: int = 8, init_window: int = 8,
                        init_bits: int = 6, rounds: int = 2,
                        stages: bool = False) -> DataFrame:
    """NN-DESCENT kNN-graph construction (Dong, Moses & Li, WWW 2011) —
    the graph-built ANN family beside the IVF/PQ/LSH index entries: start
    from a cheap initial kNN guess and iterate "a neighbor of a neighbor
    is likely a neighbor", comparing each node only against its local
    join (neighbors ∪ capped reverse neighbors of its neighbors). This is
    the batch construction underlying graph-based vector serving (the
    HNSW family's offline cousin): per round O(n·(2k)²) scored pairs,
    never an all-pairs product.

    Deterministic for the DuckDB oracle — every stochastic knob in the
    paper pinned:

    * init = top-k by cosine over the union of TWO equi-join candidate
      sets: same ``init_bits``-bit SRP bucket (the existing bucketed
      candidate contract — semantically correlated seeds) ∪ ids within
      ±``init_window`` (bucket-spanning diversity edges, the paper's
      random init made deterministic). Two equi-joins + distinct, never
      an OR-join (Spark cannot hash an OR of equi-conditions — it would
      fall back to a nested-loop product).
    * reverse edges capped at k per node by (cos DESC, id ASC) — the
      paper's ρ-sampling, deterministic; bounds hub in-degree so the
      local join stays ≤ n·(2k)² instead of quadratic in hub degree.
    * candidate pairs are DEDUPLICATED then ANTI-JOINED against the
      CURRENT graph's edges, so a surviving pair is never re-scored
      within a round. (A pair scored and dropped in an earlier round
      can be regenerated and re-scored later — full incremental
      bookkeeping would carry an ever-growing seen-set through the
      loop, costing more than the bounded-k re-scored dots.)
    * ranking is round-9 cosine with an id tiebreak throughout; norms
      are computed once per node BELOW the pair joins (HOF-collapse
      rule), so every pair evaluates ONE dot.

    With ``stages=True`` returns (stage, qid, vid, cos_sim, rn) for the
    init graph (stage 0) and after each round — the shape the recall
    entry reports so per-round convergence is value-checked.

    At 100 TB: grow ``init_bits`` ~log2(n/target-bucket) so init-bucket
    pair work stays linear (the emb_near_dup_pairs fixed-bits
    disclosure); the per-round cost is linear in n by construction.
    """
    from arangodb_java_parquet_spark.materialize import materialize
    base = materialize(
        vectors.select(F.col(id_col).alias("id"),
                       F.col(vec_col).alias("vec"))
        .withColumn("nrm", norm(F.col("vec")))
        .withColumn("bkt", srp_bucket(F.col("vec"), init_bits)))
    bq = base.select(F.col("id").alias("qid"), F.col("vec").alias("qvec"),
                     F.col("nrm").alias("qnrm"))
    bc = base.select(F.col("id").alias("vid"), F.col("vec").alias("cvec"),
                     F.col("nrm").alias("cnrm"))

    def score(pairs: DataFrame) -> DataFrame:
        # one dot per pair; vectors+norms fetched by two id equi-joins
        # NULLIF the norm product (write-time rule: Spark ANSI aborts on
        # /0 where DuckDB returns inf — a zero-norm vector after a testdata
        # regeneration must yield NULL symmetrically, never an abort)
        return (pairs.join(bq, "qid").join(bc, "vid")
                .select("qid", "vid",
                        F.round(dot(F.col("qvec"), F.col("cvec"))
                                / F.nullif(F.col("qnrm") * F.col("cnrm"),
                                           F.lit(0.0)), 9)
                        .alias("cos_sim")))

    def topk(scored: DataFrame) -> DataFrame:
        w = W.partitionBy("qid").orderBy(F.desc("cos_sim"), "vid")
        return (scored.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= k))

    # The init candidate set is symmetric BY CONSTRUCTION (a bucket join
    # emits both directions; the ±w id window emits (q, q+d) iff it emits
    # (q+d, q)), and dot(a,b) == dot(b,a) — so enumerate each unordered
    # pair ONCE (qid < vid / positive offsets), score one dot, and emit
    # both directions afterwards (r15; halves the interpreted-HOF dot
    # count of the init stage, guide §1.2 per-task work; directed pair
    # set and cosine values are bit-identical, A/B-pinned).
    p_bucket = (base.select(F.col("id").alias("qid"), "bkt")
                .join(base.select(F.col("id").alias("vid"), "bkt"), "bkt")
                .filter(F.col("qid") < F.col("vid"))
                .select("qid", "vid"))
    p_window = (base.select(
        F.col("id").alias("qid"),
        F.explode(F.sequence(F.lit(1), F.lit(init_window))).alias("d"))
        .select("qid", (F.col("qid") + F.col("d")).alias("vid"))
        .join(bc.select("vid"), "vid"))  # drop out-of-range ids
    init_pairs = p_bucket.unionByName(p_window).distinct()
    init_scored = (score(init_pairs)
                   .select(F.explode(F.array(
                       F.struct("qid", "vid", "cos_sim"),
                       F.struct(F.col("vid").alias("qid"),
                                F.col("qid").alias("vid"),
                                F.col("cos_sim")))).alias("__e"))
                   .select("__e.*"))
    knn = materialize(topk(init_scored), "iter")
    out = [knn.select(F.lit(0).alias("stage"),
                      "qid", "vid", "cos_sim", "rn")]
    for r in range(rounds):
        fwd = knn.select("qid", "vid", "cos_sim")
        rev_w = W.partitionBy("qid").orderBy(F.desc("cos_sim"), "vid")
        rev = (knn.select(F.col("vid").alias("qid"),
                          F.col("qid").alias("vid"), "cos_sim")
               .withColumn("rrn", F.row_number().over(rev_w))
               .filter(F.col("rrn") <= k)
               .select("qid", "vid", "cos_sim"))
        und = materialize(fwd.unionByName(rev), "iter")
        cand = (und.select(F.col("qid").alias("a"),
                           F.col("vid").alias("m"))
                .join(und.select(F.col("qid").alias("m"),
                                 F.col("vid").alias("c")), "m")
                .filter(F.col("a") != F.col("c"))
                .select(F.col("a").alias("qid"), F.col("c").alias("vid"))
                .distinct()
                .join(fwd.select("qid", "vid"), ["qid", "vid"],
                      "left_anti"))
        knn = materialize(
            topk(score(cand).unionByName(fwd)).select(
                "qid", "vid", "cos_sim", "rn"),
            "iter")
        out.append(knn.select(F.lit(r + 1).alias("stage"),
                              "qid", "vid", "cos_sim", "rn"))
    if stages:
        res = out[0]
        for s in out[1:]:
            res = res.unionByName(s)
        return res
    return knn.select("qid", "vid", "cos_sim", "rn")
