"""Hand-computed invariants for the round-12 additions: retrieval-ranking
evaluation (nDCG@10 / MRR / AP@10), split-conformal thresholds, 1-D
Wasserstein drift, Ljung-Box, Yule's K, 2-D Procrustes alignment,
eigenvector centrality on the capped LSH graph, market-basket rules,
the log-rank survival test, the fixed-frequency periodogram, CUPED
variance reduction, the Heaps'-law fit, Theil inequality indices, and
the Benford first-digit audit."""

import math
from decimal import Decimal

from pyspark.sql import functions as F

from arangodb_java_parquet_spark.queries.common import QUERIES, t


def _ranked_bruteforce(spark, sf_dir):
    """Python reference ranking under the label-as-relevance protocol."""
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label").collect()
    qs = [r for r in e if r["vec_id"] < 10]
    cs = [r for r in e if r["vec_id"] >= 10]

    def cos(a, b):
        d = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) * float(x) for x in a))
        nb = math.sqrt(sum(float(y) * float(y) for y in b))
        return round(d / (na * nb), 9)

    out = {}
    for q in qs:
        scored = sorted(
            ((cos(q["embedding"], c["embedding"]), c["vec_id"],
              1 if c["label"] == q["label"] else 0) for c in cs),
            key=lambda x: (-x[0], x[1]))
        out[q["vec_id"]] = [(i + 1, rel) for i, (_, _, rel)
                            in enumerate(scored)]
    return out


def test_retrieval_metrics_match_bruteforce(spark, sf_dir):
    """nDCG@10, MRR, AP@10 recomputed in python from the brute-force
    ranking must match the engine rows (python float arithmetic mirrors
    the round-9 fences closely enough for exact equality on the fenced
    outputs; sums go through Decimal like the engine)."""
    ranking = _ranked_bruteforce(spark, sf_dir)
    g = {i: round(math.log(2.0) / math.log(i + 1.0), 9)
         for i in range(1, 11)}

    ndcg_rows = {r["qid"]: r for r in
                 QUERIES["eval_ndcg_at_k"](spark, sf_dir).collect()}
    ap_rows = {r["qid"]: r for r in
               QUERIES["eval_average_precision_at_k"](
                   spark, sf_dir).collect()}
    mrr_rows = {r["qid"]: r for r in
                QUERIES["eval_mean_reciprocal_rank"](
                    spark, sf_dir).collect()}
    assert set(ndcg_rows) == set(ranking)
    for qid, ranked in ranking.items():
        n_rel = sum(rel for _, rel in ranked)
        dcg = float(sum(Decimal(repr(g[rn])) for rn, rel in ranked[:10]
                        if rel == 1))
        idcg = float(sum(Decimal(repr(g[i]))
                         for i in range(1, min(n_rel, 10) + 1)))
        r = ndcg_rows[qid]
        assert r["n_rel"] == n_rel
        assert r["dcg"] == dcg
        assert r["idcg"] == idcg
        if idcg:
            assert r["ndcg"] == dcg / idcg
            assert 0.0 <= r["ndcg"] <= 1.0 + 1e-12
        # AP@10
        cum, terms = 0, []
        for rn, rel in ranked[:10]:
            cum += rel
            if rel == 1:
                terms.append(Decimal(repr(round(cum / rn, 9))))
        ap = float(sum(terms)) / min(n_rel, 10) if n_rel else None
        ar = ap_rows[qid]
        assert ar["n_rel"] == n_rel
        if ap is not None:
            assert abs(ar["ap_at_k"] - ap) < 1e-12
            assert 0.0 <= ar["ap_at_k"] <= 1.0 + 1e-12
        # MRR leg
        first = next((rn for rn, rel in ranked if rel == 1), None)
        if first is not None:
            mr = mrr_rows[qid]
            assert mr["first_rel_rank"] == first
            assert mr["reciprocal_rank"] == (10**9 // first) / 1e9
    macro = mrr_rows[-1]
    per = [v["reciprocal_rank"] for k, v in mrr_rows.items() if k != -1]
    assert macro["first_rel_rank"] == len(per)
    assert abs(macro["reciprocal_rank"] - sum(per) / len(per)) < 1e-9


def test_conformal_threshold_is_order_statistic(spark, sf_dir):
    """The per-lang threshold must equal the ceil((n+1)*0.9)-th smallest
    calibration score recomputed in python, and coverage must be the
    exact held-split ratio."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars").collect()
    rows = {r["lang"]: r for r in
            QUERIES["eval_conformal_threshold"](spark, sf_dir).collect()}
    langs = {r["lang"] for r in d}
    assert set(rows) == langs
    for lang in langs:
        cal = sorted((r["n_chars"], r["doc_id"]) for r in d
                     if r["lang"] == lang and r["doc_id"] % 10 < 8)
        held = [r["n_chars"] for r in d
                if r["lang"] == lang and r["doc_id"] % 10 >= 8]
        n = len(cal)
        q_idx = min(-(-((n + 1) * 90) // 100), n)
        want = cal[q_idx - 1][0]
        r = rows[lang]
        assert r["n_cal"] == n and r["q_idx"] == q_idx
        assert r["threshold"] == want
        cov = sum(1 for h in held if h <= want)
        assert r["n_covered"] == cov and r["n_test"] == len(held)
        assert r["coverage"] == cov / len(held)


def test_wasserstein_matches_bruteforce(spark, sf_dir):
    """W1 recomputed in python from the exact CDF-gap integral."""
    d = t(spark, sf_dir, "documents").select("doc_id", "n_chars").collect()
    a = sorted(r["n_chars"] for r in d if r["doc_id"] % 2 == 0)
    b = sorted(r["n_chars"] for r in d if r["doc_id"] % 2 == 1)
    support = sorted(set(a) | set(b))
    ca = cb = 0
    ia = ib = 0
    total = 0
    for v, vn in zip(support, support[1:]):
        while ia < len(a) and a[ia] <= v:
            ia += 1
        while ib < len(b) and b[ib] <= v:
            ib += 1
        total += abs(ia * len(b) - ib * len(a)) * (vn - v)
    want = total / (len(a) * len(b))
    row = QUERIES["drift_wasserstein_1d"](spark, sf_dir).collect()[0]
    assert row["n_a"] == len(a) and row["n_b"] == len(b)
    assert row["w1_distance"] == want
    assert want >= 0.0


def test_ljung_box_consistent_with_acf(spark, sf_dir):
    """Q recomputed from the registered timeseries ACF machinery's own
    formula: nonnegative, and equal to n(n+2) * sum(round9(acf^2/(n-k)))
    over the same lags on the same daily-revenue series."""
    row = QUERIES["timeseries_ljung_box"](spark, sf_dir).collect()[0]
    assert row["df"] == 3
    assert row["q_stat"] >= 0.0
    o = t(spark, sf_dir, "orders")
    daily = (o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
             .agg(F.sum(F.col("o_totalprice").cast("decimal(30,8)"))
                  .cast("double").alias("rev"))
             .orderBy("day").collect())
    xs = [r["rev"] for r in daily]
    n = len(xs)
    assert row["n_obs"] == n
    terms = []
    for lag in (1, 2, 3):
        x = [round(v, 4) for v in xs[lag:]]
        y = [round(v, 4) for v in xs[:-lag]]
        m = len(x)
        sx, sy = float(sum(map(Decimal, map(repr, x)))), float(
            sum(map(Decimal, map(repr, y))))
        sxx = float(sum(Decimal(repr(round(v * v, 2))) for v in xs[lag:]))
        syy = float(sum(Decimal(repr(round(v * v, 2))) for v in xs[:-lag]))
        sxy = float(sum(Decimal(repr(round(u * v, 2)))
                        for u, v in zip(xs[lag:], xs[:-lag])))
        acf = round((m * sxy - sx * sy)
                    / math.sqrt((m * sxx - sx * sx)
                                * (m * syy - sy * sy)), 9)
        terms.append(Decimal(repr(round(acf * acf / (n - lag), 9))))
    want = n * (n + 2) * float(sum(terms))
    assert abs(row["q_stat"] - want) < 1e-6 * max(1.0, abs(want))


def test_yules_k_matches_bruteforce(spark, sf_dir):
    """K recomputed in python for every document."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text").collect()
    rows = {r["doc_id"]: r for r in
            QUERIES["text_yules_k"](spark, sf_dir).collect()}
    assert len(rows) == len(d)
    for r in d[:50]:
        tf = {}
        for tok in r["text"].split(" "):
            tf[tok] = tf.get(tok, 0) + 1
        n = sum(tf.values())
        s2 = sum(v * v for v in tf.values())
        row = rows[r["doc_id"]]
        assert row["n_tokens"] == n and row["n_types"] == len(tf)
        assert row["yules_k"] == 10000.0 * (s2 - n) / (n * float(n))
        assert row["yules_k"] >= 0.0


def test_procrustes_rotation_and_residual(spark, sf_dir):
    """The rotation must be a unit vector (cos^2 + sin^2 = 1), the
    achieved trace must match numpy's SVD-based optimum to 1e-6, and the
    residual must be nonnegative (a rotation cannot beat the optimum)."""
    import numpy as np
    row = QUERIES["emb_procrustes_2d"](spark, sf_dir).collect()[0]
    assert abs(row["cos_theta"] ** 2 + row["sin_theta"] ** 2 - 1.0) < 1e-12
    assert row["residual"] >= -1e-9
    e = t(spark, sf_dir, "embeddings").select("embedding").collect()
    arr = np.array([r["embedding"] for r in e], dtype=np.float64)
    x = arr[:, 0:2] - arr[:, 0:2].mean(axis=0)
    y = arr[:, 2:4] - arr[:, 2:4].mean(axis=0)
    m = (x.T @ y) / len(arr)
    u, sv, vt = np.linalg.svd(m)
    # rotation-ONLY optimum: s1 + s2 when det(M) >= 0, s1 - s2 when the
    # optimal orthogonal map is a reflection (det(M) < 0) — the entry
    # solves the det=+1 constrained problem by construction
    want = sv[0] + sv[1] if np.linalg.det(m) >= 0 else sv[0] - sv[1]
    assert abs(row["opt_trace"] - want) < 1e-6
    # the 2x2 cross-covariance entries match numpy
    assert abs(row["m11"] - m[0, 0]) < 1e-6
    assert abs(row["m22"] - m[1, 1]) < 1e-6


def test_eigenvector_centrality_normalized(spark, sf_dir):
    """Power-iteration invariants: every node of the capped graph gets a
    score, the max-abs score is exactly 1 (the last normalizer), and all
    scores are positive (nonnegative adjacency, positive start)."""
    rows = QUERIES["graph_eigenvector_centrality"](
        spark, sf_dir).collect()
    assert rows
    scores = [r["centrality"] for r in rows]
    assert max(abs(s) for s in scores) == 1.0
    assert all(s > 0.0 for s in scores)
    from arangodb_java_parquet_spark.operators.dedup import (
        char_shingles, lsh_candidate_pairs_capped, minhash_signatures)
    d = t(spark, sf_dir, "documents")
    cand = lsh_candidate_pairs_capped(
        minhash_signatures(char_shingles(d)), max_bucket=32).collect()
    nodes = {r["doc_a"] for r in cand} | {r["doc_b"] for r in cand}
    assert {r["node"] for r in rows} == nodes


def test_market_basket_rules_consistent(spark, sf_dir):
    """Rules recomputed from the distinct (order, brand) relation:
    support/confidence/lift exact; n_both <= min(n_a, n_b);
    confidence >= support; lift symmetric in the pair."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = {(r["l_orderkey"], r["p_brand"]) for r in
          li.join(p, li["l_partkey"] == p["p_partkey"]).collect()}
    from collections import defaultdict
    per_brand = defaultdict(set)
    for ok, b in ob:
        per_brand[b].add(ok)
    n_orders = len({ok for ok, _ in ob})
    rows = QUERIES["market_basket_rules"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        a, b = r["brand_a"], r["brand_b"]
        assert a < b
        both = len(per_brand[a] & per_brand[b])
        assert r["n_both"] == both and both >= 5
        assert r["n_a"] == len(per_brand[a])
        assert r["n_b"] == len(per_brand[b])
        assert r["support"] == both / n_orders
        assert r["confidence"] == both / len(per_brand[a])
        assert r["lift"] == (both * n_orders) / (
            len(per_brand[a]) * float(len(per_brand[b])))
        assert r["n_both"] <= min(r["n_a"], r["n_b"])
        assert r["confidence"] >= r["support"]


def test_log_rank_internal_consistency(spark, sf_dir):
    """chi_sq must equal z^2; the variance must be positive; expected
    deaths must be positive and bounded by total deaths."""
    row = QUERIES["survival_log_rank"](spark, sf_dir).collect()[0]
    assert row["variance"] > 0.0
    assert row["chi_sq"] == row["z_score"] * row["z_score"]
    assert 0.0 < row["expected_g1"]
    assert row["observed_g1"] >= 0


def test_periodogram_matches_bruteforce(spark, sf_dir):
    """Fourier coefficients recomputed in python with the same fences."""
    o = t(spark, sf_dir, "orders")
    daily = (o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
             .agg(F.sum(F.col("o_totalprice").cast("decimal(30,8)"))
                  .cast("double").alias("rev"))
             .orderBy("day").collect())
    xs = [r["rev"] for r in daily]
    n = len(xs)
    rows = {r["k"]: r for r in
            QUERIES["timeseries_periodogram"](spark, sf_dir).collect()}
    assert set(rows) == {1, 2, 3, 4}
    for k in (1, 2, 3, 4):
        a = float(sum(Decimal(repr(round(
            x * round(math.cos(2 * math.pi * k * i / n), 9), 2)))
            for i, x in enumerate(xs)))
        b = float(sum(Decimal(repr(round(
            x * round(math.sin(2 * math.pi * k * i / n), 9), 2)))
            for i, x in enumerate(xs)))
        r = rows[k]
        assert r["n_obs"] == n
        assert abs(r["a_k"] - a) < 1e-6 * max(1.0, abs(a))
        assert abs(r["b_k"] - b) < 1e-6 * max(1.0, abs(b))
        assert abs(r["power"] - (r["a_k"] ** 2 + r["b_k"] ** 2) / n) < 1e-9


def test_cuped_matches_bruteforce(spark, sf_dir):
    """theta and rho^2 recomputed in python from per-customer pre/post
    revenue; rho^2 in [0, 1]."""
    import datetime
    o = t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice").collect()
    split = datetime.date(1998, 1, 1)
    from collections import defaultdict
    pre, post = defaultdict(Decimal), defaultdict(Decimal)
    for r in o:
        day = r["o_orderdate"]
        day = day.date() if hasattr(day, "date") else day
        cust = r["o_custkey"]
        v = Decimal(repr(r["o_totalprice"])).quantize(
            Decimal("0.00000001"))
        if day < split:
            pre[cust] += v
            post[cust] += 0
        else:
            post[cust] += v
            pre[cust] += 0
    custs = sorted(pre)
    x = [float(pre[c]) for c in custs]
    y = [float(post[c]) for c in custs]
    n = len(custs)
    sx = float(sum(Decimal(repr(round(v, 4))) for v in x))
    sy = float(sum(Decimal(repr(round(v, 4))) for v in y))
    sxx = float(sum(Decimal(repr(round(v * v, 2))) for v in x))
    syy = float(sum(Decimal(repr(round(v * v, 2))) for v in y))
    sxy = float(sum(Decimal(repr(round(u * v, 2)))
                    for u, v in zip(x, y)))
    theta = round((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) + 0.0
    rho2 = round((n * sxy - sx * sy) ** 2
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 9) + 0.0
    row = QUERIES["eval_cuped_adjustment"](spark, sf_dir).collect()[0]
    assert row["n_customers"] == n
    assert row["theta"] == theta
    assert row["variance_reduction"] == rho2
    assert 0.0 <= row["variance_reduction"] <= 1.0


def test_heaps_fit_matches_lstsq(spark, sf_dir):
    """beta/ln K recomputed with numpy least squares on the growth
    points (loose 1e-6: numpy skips the round-9 fences)."""
    import numpy as np
    g = QUERIES["vocab_growth_curve"](spark, sf_dir).collect()
    xs = np.log([r["total_tokens"] for r in g])
    ys = np.log([r["vocab_size"] for r in g])
    a = np.vstack([xs, np.ones(len(xs))]).T
    beta, lnk = np.linalg.lstsq(a, ys, rcond=None)[0]
    row = QUERIES["vocab_heaps_law_fit"](spark, sf_dir).collect()[0]
    assert row["n_points"] == len(g)
    assert abs(row["beta"] - beta) < 1e-6
    assert abs(row["ln_k"] - lnk) < 1e-6
    assert abs(row["k_coef"] - math.exp(row["ln_k"])) < 1e-9
    # the synthetic corpus draws from a FIXED 31-token vocabulary, so
    # Heaps beta is genuinely ~0 here (and K ~= |vocab|); natural text
    # would sit near 0.5 — the bound only guards against nonsense fits
    assert -1e-6 <= row["beta"] < 1.2
    assert abs(row["k_coef"] - 31.0) < 1.0


def test_theil_indices_match_bruteforce(spark, sf_dir):
    """T and L recomputed in python with the same fences; both
    nonnegative (Jensen) and T <= ln(n)."""
    o = t(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice").collect()
    from collections import defaultdict
    rev = defaultdict(Decimal)
    for r in o:
        rev[r["o_custkey"]] += Decimal(repr(r["o_totalprice"])).quantize(
            Decimal("0.00000001"))
    xs = [float(v) for v in rev.values()]
    n, s = len(xs), float(sum(Decimal(repr(v)) for v in xs))
    tt = float(sum(Decimal(repr(round((x * n / s)
                                      * round(math.log(x * n / s), 9), 9)))
                   for x in xs)) / n
    tl = float(sum(Decimal(repr(round(math.log(s / (x * n)), 9)))
                   for x in xs)) / n
    row = QUERIES["inequality_theil_index"](spark, sf_dir).collect()[0]
    assert row["n_customers"] == n
    assert abs(row["theil_t"] - tt) < 1e-9
    assert abs(row["theil_l"] - tl) < 1e-9
    assert row["theil_t"] >= -1e-9 and row["theil_l"] >= -1e-9
    assert row["theil_t"] <= math.log(n)


def test_benford_audit_consistent(spark, sf_dir):
    """Digit shares sum to 1, expected shares are the Benford
    logarithms summing to 1, chi2_total equals the decimal sum of the
    contributions and is identical on every row."""
    rows = QUERIES["dq_benford_law"](spark, sf_dir).collect()
    assert {r["digit"] for r in rows} <= set(range(1, 10))
    assert abs(sum(r["obs_share"] for r in rows) - 1.0) < 1e-9
    for r in rows:
        assert r["expected_share"] == round(
            math.log(1 + 1.0 / r["digit"]) / math.log(10.0), 9)
    want = float(sum(Decimal(repr(r["chi2_contrib"])) for r in rows))
    assert all(abs(r["chi2_total"] - want) < 1e-9 for r in rows)
    assert all(r["chi2_contrib"] >= 0.0 for r in rows)
