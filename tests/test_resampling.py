"""Pins for the r12i wave: sign-flip permutation test, power-law degree
MLE, JL projection distortion."""

import hashlib
import math
from decimal import Decimal

from arangodb_java_parquet_spark.queries.common import QUERIES, t


def test_permutation_signflip_matches_python(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "text").collect()
    ds = {}
    for r in docs:
        ws = r["text"].split(" ")
        n = len(ws)
        if n < 2:
            continue
        h = n // 2
        ds[r["doc_id"]] = (sum(len(w) for w in ws[:h])
                           - sum(len(w) for w in ws[h:]))
    t_obs = sum(ds.values())
    n_extreme = 0
    for b in range(1, 201):
        tb = 0
        for did, di in ds.items():
            bit = hashlib.md5(f"{b}:{did}".encode()).hexdigest()[0]
            tb += di if bit in "89abcdef" else -di
        if abs(tb) >= abs(t_obs):
            n_extreme += 1
    row = QUERIES["eval_permutation_signflip"](spark, sf_dir).collect()[0]
    assert row["n_docs"] == len(ds)
    assert row["t_obs"] == t_obs
    assert row["n_extreme"] == n_extreme
    assert row["p_value"] == (1 + n_extreme) / 201.0
    assert 0.0 < row["p_value"] <= 1.0


def test_powerlaw_alpha_matches_python(spark, sf_dir):
    from collections import Counter

    from arangodb_java_parquet_spark.operators.dedup import (
        char_shingles, lsh_candidate_pairs_capped, minhash_signatures)
    d = t(spark, sf_dir, "documents")
    sh = char_shingles(d)
    e = [(r["doc_a"], r["doc_b"]) for r in lsh_candidate_pairs_capped(
        minhash_signatures(sh),
        max_bucket=32).select("doc_a", "doc_b").collect()]
    deg = Counter()
    for a, b in e:
        deg[a] += 1
        deg[b] += 1
    tail = [dg for dg in deg.values() if dg >= 2]
    sum_ln = float(sum(Decimal(repr(round(math.log(dg / 2.0), 9)))
                       for dg in tail))
    row = QUERIES["graph_powerlaw_alpha"](spark, sf_dir).collect()[0]
    assert row["n_nodes"] == len(deg)
    assert row["n_tail"] == len(tail)
    assert row["d_min"] == 2
    if sum_ln != 0:
        assert row["alpha_mle"] == 1 + len(tail) / sum_ln
        assert row["alpha_mle"] > 1.0
    else:
        assert row["alpha_mle"] is None


def test_jl_distortion_bounds(spark, sf_dir):
    row = QUERIES["emb_jl_distortion"](spark, sf_dir).collect()[0]
    assert row["n_pairs"] > 0
    assert 0.0 <= row["min_ratio"] <= row["mean_ratio"] <= row["max_ratio"]
    assert 0.0 <= row["frac_within_20pct"] <= 1.0
    # an orthonormal-rows projection cannot expand a distance beyond
    # the parallelogram bound (a+b)^2 <= 2(a^2+b^2): ratio <= 1 + eps
    assert row["max_ratio"] <= 1.0 + 1e-9


def test_jl_distortion_matches_python(spark, sf_dir):
    rows = t(spark, sf_dir, "embeddings").filter(
        "vec_id < 80").select("vec_id", "embedding").collect()
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in rows}
    ids = sorted(vecs)
    ratios = []
    for i, ia in enumerate(ids):
        for ib in ids[i + 1:]:
            a, b = vecs[ia], vecs[ib]
            df = 0.0
            for x, y in zip(a, b):
                d = x - y
                df = df + d * d
            dl = 0.0
            for j in range(1, 33):
                v = ((a[2 * j - 2] + a[2 * j - 1])
                     - (b[2 * j - 2] + b[2 * j - 1]))
                dl = dl + v * v / 2
            if df > 0:
                ratios.append(round(dl / df, 9))
    mean = float(sum(Decimal(repr(x)) for x in ratios)) / len(ratios)
    row = QUERIES["emb_jl_distortion"](spark, sf_dir).collect()[0]
    assert row["n_pairs"] == len(ratios)
    assert row["mean_ratio"] == mean
    assert row["min_ratio"] == min(ratios)
    assert row["max_ratio"] == max(ratios)
