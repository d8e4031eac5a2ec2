"""Focused pins for the r15 optimization-round operator changes:

* ``symmetric_edges`` (operators/dedup.py) — the one-Generate
  symmetrization that replaced the self-UNION at every graph_* edge
  site must emit exactly the union form's row SET (both directions of
  every pair, nothing else), on plain frames and on the real LSH
  candidate pairs.
* NN-descent init (operators/similarity.nndescent_knn_graph) — the
  unordered-pair init scoring (one dot per unordered pair, both
  directions emitted after) must reproduce the directed init graph the
  unrolled oracle pins; the recall entry's stage-0 row set is the
  cheapest full-value probe of that.
"""

from pyspark.sql import functions as F

from arangodb_java_parquet_spark.operators.dedup import symmetric_edges


def _union_form(pairs):
    return (pairs.select(F.col("doc_a").alias("src"),
                         F.col("doc_b").alias("dst"))
            .unionAll(pairs.select(F.col("doc_b").alias("src"),
                                   F.col("doc_a").alias("dst"))))


def test_symmetric_edges_matches_union_rowset(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (7, 9)], "doc_a LONG, doc_b LONG")
    got = symmetric_edges(pairs)
    want = _union_form(pairs)
    assert got.columns == ["src", "dst"]
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # duplicates in the input stay duplicated (unionAll semantics)
    dup = spark.createDataFrame(
        [(1, 2), (1, 2)], "doc_a LONG, doc_b LONG")
    assert symmetric_edges(dup).count() == 4


def test_symmetric_edges_on_lsh_candidates(spark, sf_dir):
    from arangodb_java_parquet_spark.operators.dedup import (
        char_shingles, lsh_candidate_pairs, minhash_signatures)
    from arangodb_java_parquet_spark.queries.common import t

    d = t(spark, sf_dir, "documents")
    cand = lsh_candidate_pairs(minhash_signatures(char_shingles(d)))
    got = symmetric_edges(cand)
    want = _union_form(cand)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_nndescent_init_rowset_matches_old_formulation(spark):
    """ADVICE r15 #3: pin the UNTRUNCATED stage-0 row set of the
    one-dot-per-unordered-pair init rewrite against the r14 formulation
    (bucket equi-join with qid != vid UNION the ±window explode, scored
    once PER DIRECTION) as an exact (qid, vid, cos_sim) multiset — the
    mutual-edge cosine-equality check alone could not detect a
    regression back to per-direction scoring or a changed directed pair
    set. k is set above any possible degree so stage 0 IS the full
    scored init set."""
    from arangodb_java_parquet_spark.operators.similarity import (
        dot, nndescent_knn_graph, norm, srp_bucket)

    w_, bits = 3, 2
    rows = [(i, [((i * 7 + j * 13) % 11) - 5.0 + 0.25 * j
                 for j in range(8)]) for i in range(24)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")

    got = (nndescent_knn_graph(df, id_col="vec_id", vec_col="embedding",
                               k=10_000, init_window=w_, init_bits=bits,
                               rounds=0, stages=True)
           .filter(F.col("stage") == 0)
           .select("qid", "vid", "cos_sim"))

    # the r14 formulation, reconstructed: per-direction candidates,
    # per-direction scoring
    base = (df.select(F.col("vec_id").alias("id"),
                      F.col("embedding").alias("vec"))
            .withColumn("nrm", norm(F.col("vec")))
            .withColumn("bkt", srp_bucket(F.col("vec"), bits)))
    p_bucket = (base.select(F.col("id").alias("qid"), "bkt")
                .join(base.select(F.col("id").alias("vid"), "bkt"), "bkt")
                .filter(F.col("qid") != F.col("vid"))
                .select("qid", "vid"))
    p_window = (base.select(
        F.col("id").alias("qid"),
        F.explode(F.sequence(F.lit(-w_), F.lit(w_))).alias("d"))
        .filter(F.col("d") != 0)
        .select("qid", (F.col("qid") + F.col("d")).alias("vid"))
        .join(base.select(F.col("id").alias("vid")), "vid"))
    cand = p_bucket.unionByName(p_window).distinct()
    bq = base.select(F.col("id").alias("qid"), F.col("vec").alias("qvec"),
                     F.col("nrm").alias("qnrm"))
    bc = base.select(F.col("id").alias("vid"), F.col("vec").alias("cvec"),
                     F.col("nrm").alias("cnrm"))
    want = (cand.join(bq, "qid").join(bc, "vid")
            .select("qid", "vid",
                    F.round(dot(F.col("qvec"), F.col("cvec"))
                            / F.nullif(F.col("qnrm") * F.col("cnrm"),
                                       F.lit(0.0)), 9).alias("cos_sim")))

    key = lambda r: (r["qid"], r["vid"], repr(r["cos_sim"]))  # noqa: E731
    got_rows = sorted(map(key, got.collect()))
    want_rows = sorted(map(key, want.collect()))
    assert got_rows, "empty init set — vacuous pin"
    assert got_rows == want_rows


def test_nndescent_init_stage_rowcount_and_symmetry(spark, sf_dir):
    from arangodb_java_parquet_spark.operators.similarity import (
        nndescent_knn_graph)
    from arangodb_java_parquet_spark.queries.common import t

    e = t(spark, sf_dir, "embeddings")
    g = nndescent_knn_graph(
        e, id_col="vec_id", vec_col="embedding",
        k=8, init_window=8, init_bits=6, rounds=0, stages=True)
    init = g.filter(F.col("stage") == 0).select("qid", "vid", "cos_sim")
    rows = init.collect()
    assert len(rows) > 0
    by_pair = {(r["qid"], r["vid"]): r["cos_sim"] for r in rows}
    # the scored graph is rank-truncated, so not every reverse edge
    # survives top-k — but where both directions survive, the one dot
    # shared by the unordered pair must give the identical cosine
    both = [(k, v) for k, v in by_pair.items() if (k[1], k[0]) in by_pair]
    assert both, "expected at least one mutual init edge"
    for (q, v), cos in both:
        assert by_pair[(v, q)] == cos
