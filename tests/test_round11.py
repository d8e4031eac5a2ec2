"""Hand-computed invariants for the round-11 additions: KMV sketch set
algebra, the LSH banding parameter planner, and A-Res weighted sampling."""

import math

from pyspark.sql import functions as F

from arangodb_java_parquet_spark.queries.common import QUERIES, t


def test_kmv_estimates_within_error_band(spark, sf_dir):
    """KMV distinct estimates must land within the theoretical relative
    error ~1/sqrt(k-1) of the exact cardinalities (loose 4-sigma band),
    and the set algebra must be internally consistent: the union
    estimate is at least each side's, and the intersection estimate is
    nonnegative and at most the union."""
    row = QUERIES["sketch_kmv_distinct_ops"](spark, sf_dir).collect()[0]
    k = row["k"]
    band = 4.0 / math.sqrt(k - 1)
    for est, exact in ((row["est_a"], row["exact_a"]),
                       (row["est_b"], row["exact_b"])):
        assert exact > 0
        assert abs(est / exact - 1.0) < band, (est, exact, band)
    assert row["est_union"] >= max(row["est_a"], row["est_b"]) * (1 - band)
    assert 0.0 <= row["kmv_jaccard"] <= 1.0
    assert 0.0 <= row["est_intersection"] <= row["est_union"]
    # exact Jaccard of the two customer sets for comparison
    o = t(spark, sf_dir, "orders")
    a = {r[0] for r in o.filter(F.col("o_orderpriority") == "1-URGENT")
         .select("o_custkey").distinct().collect()}
    b = {r[0] for r in o.filter(F.col("o_orderpriority") == "2-HIGH")
         .select("o_custkey").distinct().collect()}
    true_j = len(a & b) / len(a | b)
    # Jaccard from a k-sample of the union is a proportion estimate:
    # binomial 4-sigma band
    jband = 4.0 * math.sqrt(true_j * (1 - true_j) / k) + 1e-9
    assert abs(row["kmv_jaccard"] - true_j) <= jband, (
        row["kmv_jaccard"], true_j, jband)


def test_lsh_planner_tradeoff_monotone(spark, sf_dir):
    """The planner's own s-curve math implies strict trade-off ordering
    across the three (r, b) configs: smaller r (more forgiving bands)
    means MORE expected candidates and LESS missed high-similarity
    mass. Also p in [0, 1] bounds: expected_candidates <= n pairs."""
    rows = {r["rows_per_band"]: r for r in
            QUERIES["dedup_lsh_param_planner"](spark, sf_dir).collect()}
    assert set(rows) == {1, 2, 4}
    n = rows[1]["n_scored_pairs"]
    assert all(r["n_scored_pairs"] == n for r in rows.values())
    assert (rows[1]["expected_candidates"]
            >= rows[2]["expected_candidates"]
            >= rows[4]["expected_candidates"] > 0)
    assert (rows[1]["expected_missed_ge_half"]
            <= rows[2]["expected_missed_ge_half"]
            <= rows[4]["expected_missed_ge_half"])
    for r in rows.values():
        assert 0 <= r["expected_candidates"] <= n
        assert r["expected_missed_ge_half"] >= 0


def test_ares_weighted_sampling_biases_toward_long_docs(spark, sf_dir):
    """A-Res inclusion probability is proportional to weight, so the
    sampled documents' mean length must exceed the corpus mean (the
    length-biased sampling property), every key must be negative
    (ln u < 0, w > 0), and ranks must be the contiguous 1..k in key
    order."""
    out = QUERIES["sample_weighted_ares"](spark, sf_dir).collect()
    assert [r["draw_rank"] for r in out] == list(range(1, len(out) + 1))
    keys = [r["ares_key"] for r in out]
    assert all(k < 0 for k in keys)
    assert keys == sorted(keys, reverse=True)
    d = t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    corpus_mean = d.agg(F.avg("n_chars")).collect()[0][0]
    sample_mean = sum(r["weight"] for r in out) / len(out)
    assert sample_mean > corpus_mean, (sample_mean, corpus_mean)


def test_ares_matches_bruteforce_python(spark):
    """On a tiny hand corpus the engine's A-Res draw must equal the
    brute-force python computation of the same md5-derived keys."""
    import hashlib

    rows = [(i, "x" * (10 + 7 * (i % 5))) for i in range(1, 31)]
    docs = spark.createDataFrame(
        [(i, txt, len(txt)) for i, txt in rows],
        "doc_id long, text string, n_chars int")
    docs.createOrReplaceTempView("___ares_tmp")

    def key(i, w):
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
        return round(math.log(h / 2 ** 60) / w, 9)

    expect = sorted(((key(i, len(txt)), i) for i, txt in rows),
                    key=lambda p: (-p[0], p[1]))[:50]
    from arangodb_java_parquet_spark.queries.curation2 import _ARES_SCALE
    u = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
                16, 10).cast("bigint").cast("double") / F.lit(_ARES_SCALE))
    got = (docs.select("doc_id",
                       F.round(F.log(u) / F.col("n_chars"), 9).alias("k"))
           .orderBy(F.desc("k"), F.asc("doc_id")).collect())
    assert [(r["k"], r["doc_id"]) for r in got][:len(expect)] == expect


def test_data_constrained_epochs_decay_invariants(spark, sf_dir):
    """Muennighoff-decay sanity: for every source, effective tokens are
    strictly increasing in epochs but with strictly diminishing
    marginal value; epoch 1 is exactly the unique supply
    (efficiency 1); efficiency is strictly decreasing; and effective
    tokens never exceed U * (1 + R*)."""
    rows = QUERIES["mixture_data_constrained_epochs"](
        spark, sf_dir).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    assert by_src
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r["epochs"])
        u = rs[0]["unique_tokens"]
        assert rs[0]["epochs"] == 1
        assert rs[0]["effective_tokens"] == float(u)
        assert abs(rs[0]["token_efficiency"] - 1.0) < 1e-12
        effs = [r["effective_tokens"] for r in rs]
        assert all(b > a for a, b in zip(effs, effs[1:])), src
        margins = [b - a for a, b in zip(effs, effs[1:])]
        # marginal value per ADDED epoch block must shrink (the grid is
        # geometric, so normalize by the epoch-count delta)
        deltas = [r2["epochs"] - r1["epochs"]
                  for r1, r2 in zip(rs, rs[1:])]
        per_epoch = [m / d for m, d in zip(margins, deltas)]
        assert all(b < a for a, b in zip(per_epoch, per_epoch[1:])), src
        effic = [r["token_efficiency"] for r in rs]
        assert all(b < a for a, b in zip(effic, effic[1:])), src
        assert all(e < u * (1 + 15.39) for e in effs), src


def test_alignment_uniformity_bounds_and_collapse_contrast(spark, sf_dir):
    """Wang-Isola invariants: alignment in [0, 4] (normalized vectors),
    uniformity in [-4, 0] (exp(-2*sq) in [e^-8, 1]); and a COLLAPSED
    space (all vectors identical) must score alignment ~0 and
    uniformity ~0, strictly worse (higher) uniformity than the real
    corpus — the separation the metric exists to detect."""
    row = QUERIES["emb_alignment_uniformity"](spark, sf_dir).collect()[0]
    assert row["n_pairs"] == row["n_vectors"] * (row["n_vectors"] - 1) // 2
    assert 0.0 <= row["alignment"] <= 4.0
    assert -4.0 <= row["uniformity"] <= 0.0

    from pyspark.sql import functions as SF
    collapsed = spark.createDataFrame(
        [(i, [1.0] * 8 , i % 3) for i in range(40)],
        "vec_id long, embedding array<double>, label int")
    from arangodb_java_parquet_spark.operators.similarity import dot, norm
    u = collapsed.withColumn("nrm", norm(SF.col("embedding")))
    a = u.select(SF.col("vec_id").alias("ia"),
                 SF.col("embedding").alias("va"), SF.col("nrm").alias("na"))
    b = u.select(SF.col("vec_id").alias("ib"),
                 SF.col("embedding").alias("vb"), SF.col("nrm").alias("nb"))
    cos = SF.round(dot(SF.col("va"), SF.col("vb"))
                   / (SF.col("na") * SF.col("nb")), 9)
    sq = (SF.lit(2) - 2 * cos)
    got = (a.join(SF.broadcast(b), SF.col("ia") < SF.col("ib"))
           .agg(SF.avg(sq).alias("align"),
                SF.log(SF.avg(SF.exp(-2 * sq))).alias("unif"))
           .collect()[0])
    assert abs(got["align"]) < 1e-9           # collapsed: positives at 0
    assert abs(got["unif"]) < 1e-9            # collapsed: uniformity -> 0
    assert row["uniformity"] < got["unif"] - 0.01


# ---------------------------------------------------------------------------
# wave 1 (nonparametric statistics + multiple testing): hand-verified
# invariants computed in pure python against the same sf0.01 inputs
# ---------------------------------------------------------------------------

def test_sign_test_pvalues_exact_binomial(spark, sf_dir):
    """Each sign-test p-value must equal the EXACT two-sided binomial
    tail min(1, 2*sum_{k<=min(s,n-s)} C(n,k)/2^n) recomputed in python
    from the emitted (n, s); BH rejection must be the textbook step-up:
    reject exactly ranks 1..i* where i* = max{i : p_(i) <= i*alpha/m}."""
    rows = QUERIES["eval_bh_fdr_correction"](spark, sf_dir).collect()
    m = len(rows)
    assert m >= 2
    by_rank = sorted(rows, key=lambda r: r["bh_rank"])
    prev_p = 0.0
    for r in by_rank:
        n, s = r["n_changes"], r["s_plus"]
        exact = min(1.0, 2.0 * sum(math.comb(n, k)
                                   for k in range(min(s, n - s) + 1))
                    / (1 << n))
        assert r["p_value"] == exact, (r["event_type"], r["p_value"], exact)
        assert r["p_value"] >= prev_p
        prev_p = r["p_value"]
    i_star = max([r["bh_rank"] for r in by_rank
                  if r["p_value"] * 20 * m <= r["bh_rank"]], default=0)
    for r in by_rank:
        assert r["rejected"] == (1 if r["bh_rank"] <= i_star else 0)


def test_wilcoxon_matches_bruteforce_python(spark, sf_dir):
    """W+ / W- / z recomputed with a brute-force midrank assignment over
    the per-user half-vs-half differences must match bit-for-bit (the
    operator's cumulative-sum midranks are exact halves)."""
    row = QUERIES["eval_wilcoxon_signed_rank"](spark, sf_dir).collect()[0]
    ev = t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    lo, hi = ev.agg(F.min(us), F.max(us)).collect()[0]
    mid = (lo + hi) // 2
    per_user = (ev.groupBy("user_id")
                .agg(F.sum(F.when(us <= mid, 1).otherwise(0)).alias("c1"),
                     F.sum(F.when(us > mid, 1).otherwise(0)).alias("c2"))
                .collect())
    ds = [r["c2"] - r["c1"] for r in per_user if r["c2"] != r["c1"]]
    ranked = sorted((abs(d), d > 0) for d in ds)
    n = len(ds)
    # midranks by scanning runs of equal |d|
    w_plus, i = 0.0, 0
    ties = 0
    while i < n:
        j = i
        while j < n and ranked[j][0] == ranked[i][0]:
            j += 1
        c = j - i
        midrank = i + (c + 1) / 2.0
        w_plus += midrank * sum(1 for k in range(i, j) if ranked[k][1])
        ties += c ** 3 - c
        i = j
    assert row["n_pairs"] == n
    assert row["w_plus"] == w_plus
    assert row["w_minus"] == n * (n + 1) / 2.0 - w_plus
    var = (n * (n + 1) * (2 * n + 1) * 2.0 - ties) / 48.0
    z = (4 * w_plus - n * float(n + 1)) / (4 * math.sqrt(var))
    assert row["z_score"] == z


def test_macro_ovr_auc_bounds_and_macro_row(spark, sf_dir):
    """Per-label AUCs in [0,1]; the macro row (label=-1) equals the mean
    of the round-9 per-label AUCs and reports the NUMBER OF AVERAGED
    LABELS in n_pos (the r12 ADVICE fix — n_pos no longer overloads the
    total row count on the macro row)."""
    rows = QUERIES["eval_auc_macro_ovr"](spark, sf_dir).collect()
    per = [r for r in rows if r["label"] >= 0]
    macro = [r for r in rows if r["label"] == -1][0]
    assert len(per) >= 2
    for r in per:
        assert 0.0 <= r["auc"] <= 1.0
    assert macro["n_pos"] == len(per)
    from decimal import Decimal
    want = float(sum(Decimal(repr(round(r["auc"], 9))) for r in per)) / len(per)
    assert abs(macro["auc"] - want) < 1e-12


def test_mann_kendall_s_matches_bruteforce(spark, sf_dir):
    """S recomputed from the collected monthly series must match; tau in
    [-1,1]; z sign agrees with S."""
    row = QUERIES["trend_mann_kendall"](spark, sf_dir).collect()[0]
    o = t(spark, sf_dir, "orders")
    monthly = (o.groupBy(F.date_trunc("month", F.col("o_orderdate"))
                         .alias("m"))
               .agg(F.sum(F.col("o_totalprice").cast("decimal(30,8)"))
                    .cast("double").alias("x"))
               .orderBy("m").collect())
    xs = [r["x"] for r in monthly]
    s = sum((xs[j] > xs[i]) - (xs[j] < xs[i])
            for i in range(len(xs)) for j in range(i + 1, len(xs)))
    assert row["s_stat"] == s
    assert row["n_periods"] == len(xs)
    assert -1.0 <= row["kendall_tau"] <= 1.0
    if s > 0:
        assert row["z_score"] > 0
    elif s < 0:
        assert row["z_score"] < 0


def test_pinball_loss_asymmetry(spark, sf_dir):
    """Pinball losses are nonnegative; the q=0.9 loss must penalize
    under-forecasting 9x over-forecasting: recompute from the daily
    series for one event type."""
    rows = QUERIES["eval_pinball_loss"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["pinball_p50"] >= 0.0 and r["pinball_p90"] >= 0.0
    ev = t(spark, sf_dir, "events")
    daily = (ev.groupBy("event_type",
                        F.date_trunc("day", F.col("ts").cast("timestamp"))
                        .alias("d"))
             .agg(F.count(F.lit(1)).alias("y"))
             .orderBy("event_type", "d").collect())
    etype = rows[0]["event_type"]
    ys = [r["y"] for r in daily if r["event_type"] == etype]
    ntr = len(ys) // 2
    train, test = sorted(ys[:ntr]), ys[ntr:]
    f50 = train[(ntr + 1) // 2 - 1]
    f90 = train[(9 * ntr + 9) // 10 - 1]
    p50 = sum(abs(y - f50) for y in test) / (2.0 * len(test))
    p90 = sum(max(9 * (y - f90), f90 - y) for y in test) / (10.0 * len(test))
    got = [r for r in rows if r["event_type"] == etype][0]
    assert got["n_test"] == len(test)
    assert got["pinball_p50"] == p50
    assert got["pinball_p90"] == p90


# ---------------------------------------------------------------------------
# wave 2: cluster validation / graph scoring / CKA / CDC chunking / ICC
# ---------------------------------------------------------------------------

def test_davies_bouldin_internal_consistency(spark, sf_dir):
    """DB invariants: positive intra-cluster spreads, r_max >= any single
    ratio recomputed from the emitted rows, db_index = mean(round9(r_max))."""
    from decimal import Decimal
    rows = QUERIES["cluster_davies_bouldin"](spark, sf_dir).collect()
    assert len(rows) >= 2
    for r in rows:
        assert r["s_intra"] >= 0.0 and r["r_max"] > 0.0
    want = float(sum(Decimal(repr(round(r["r_max"], 9)))
                     for r in rows)) / len(rows)
    assert abs(rows[0]["db_index"] - want) < 1e-12
    assert all(r["db_index"] == rows[0]["db_index"] for r in rows)


def test_adamic_adar_matches_bruteforce(spark, sf_dir):
    """Recompute AA scores in python from the CAPPED LSH candidate edge
    list (the entry's default graph as of r12): for every emitted
    (a, c), score must equal the round-9 decimal sum of 1/ln(deg(m))
    over common neighbors m, and (a, c) must not be an existing edge."""
    import math as _m
    from decimal import Decimal
    from arangodb_java_parquet_spark.operators.dedup import (
        char_shingles, lsh_candidate_pairs_capped, minhash_signatures)
    d = t(spark, sf_dir, "documents")
    sh = char_shingles(d)
    cand = {(r["doc_a"], r["doc_b"]) for r in
            lsh_candidate_pairs_capped(minhash_signatures(sh),
                                       max_bucket=32).collect()}
    adj = {}
    for a, b in cand:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    rows = QUERIES["graph_adamic_adar"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        a, c = r["doc_a"], r["doc_b"]
        assert (a, c) not in cand and (c, a) not in cand
        common = adj[a] & adj[c]
        assert len(common) == r["common_neighbors"]
        aa = float(sum(Decimal(repr(round(1.0 / _m.log(len(adj[m])), 9)))
                       for m in common))
        assert r["adamic_adar"] == round(aa, 9)


def test_linear_cka_matches_numpy(spark, sf_dir):
    """CKA recomputed in numpy (no round-9 fencing) must agree to 1e-6,
    and the statistic must sit in [0, 1]."""
    import numpy as np
    row = QUERIES["emb_linear_cka"](spark, sf_dir).collect()[0]
    assert 0.0 <= row["cka_linear"] <= 1.0
    e = t(spark, sf_dir, "embeddings").select("embedding").collect()
    m = np.array([r["embedding"] for r in e], dtype=np.float64)
    x, y = m[:, :32], m[:, 32:]
    xc, yc = x - x.mean(0), y - y.mean(0)
    cxy = xc.T @ yc
    cka = (np.linalg.norm(cxy, "fro") ** 2
           / (np.linalg.norm(xc.T @ xc, "fro")
              * np.linalg.norm(yc.T @ yc, "fro")))
    assert abs(row["cka_linear"] - cka) < 1e-6
    assert row["n_vectors"] == m.shape[0]


def test_cdc_chunking_boundary_property(spark, sf_dir):
    """Reconstruct the chunking for every doc of one source in python
    (same md5-bucket boundary rule) and match the per-source totals;
    content-defined property: n_chunks = 1 + #boundary tokens beyond
    each doc's first token position."""
    import hashlib
    rows = {r["source"]: r for r in
            QUERIES["dedup_cdc_chunking"](spark, sf_dir).collect()}
    src = sorted(rows)[0]
    docs = (t(spark, sf_dir, "documents")
            .filter(F.col("source") == src)
            .select("text").collect())
    total_chunks, uniq = 0, {}
    for d in docs:
        toks = d["text"].split(" ")
        # operator rule: chunk_id = #boundary tokens among STRICTLY
        # PRECEDING positions, so a boundary token STARTS a new chunk
        ids = []
        nb = 0
        for k, tok in enumerate(toks):
            if k > 0:
                prev = toks[k - 1]
                nb += int(hashlib.md5(prev.encode()).hexdigest()[:8],
                          16) % 8 == 0
            ids.append(nb)
        n_chunks = ids[-1] + 1 if ids else 0
        total_chunks += n_chunks
        by = {}
        for k, tok in enumerate(toks):
            by.setdefault(ids[k], []).append(tok)
        for ctoks in by.values():
            uniq.setdefault(" ".join(ctoks), 0)
            uniq[" ".join(ctoks)] += 1
    got = rows[src]
    assert got["n_chunks"] == total_chunks
    assert got["n_unique_chunks"] == len(uniq)
    assert got["tokens_total"] == sum(
        len(c.split(" ")) * n for c, n in uniq.items())
    assert got["tokens_saved"] == sum(
        len(c.split(" ")) * (n - 1) for c, n in uniq.items())
    assert 0.0 <= got["dedup_ratio"] < 1.0


def test_icc_matches_python_anova(spark, sf_dir):
    """ICC(2,1) recomputed from the raw integer ratings via the textbook
    two-way ANOVA must match bit-for-bit (all-integer sums both sides)."""
    row = QUERIES["eval_icc_2_1"](spark, sf_dir).collect()[0]
    d = t(spark, sf_dir, "documents").select("doc_id", "text",
                                             "n_chars").collect()
    k = 3
    mat = []
    for r in d:
        toks = len(r["text"].split(" "))
        mat.append((min(10, r["n_chars"] // 100),
                    min(10, toks // 20),
                    min(10, len(r["text"]) // 120)))
    n = len(mat)
    tsum = sum(sum(m) for m in mat)
    ssq = sum(x * x for m in mat for x in m)
    srow = sum(sum(m) ** 2 for m in mat)
    scol = sum(sum(m[j] for m in mat) ** 2 for j in range(k))
    nk = tsum * (tsum / float(n * k))
    msr = (srow / float(k) - nk) / (n - 1)
    msc = (scol / float(n) - nk) / (k - 1)
    mse = (ssq - srow / float(k) - scol / float(n) + nk) / ((n - 1) * (k - 1))
    icc = (msr - mse) / (msr + (k - 1) * mse + (k / float(n)) * (msc - mse))
    assert row["n_subjects"] == n
    assert row["msr"] == msr and row["msc"] == msc and row["mse"] == mse
    assert row["icc_2_1"] == icc


# ---------------------------------------------------------------------------
# wave 3: blocking eval / ZCA whitening / SpotSigs / DeLong / Holt
# ---------------------------------------------------------------------------

def test_blocking_quality_invariants(spark, sf_dir):
    """name_prefix blocks adjacent serials except across radix
    boundaries -> PC close to 1 and strictly greater than the
    uninformative (nation, segment) scheme; RR in (0,1]; candidate
    pairs consistent with a python recomputation of block sizes."""
    rows = {r["scheme"]: r for r in
            QUERIES["linkage_blocking_quality"](spark, sf_dir).collect()}
    np_, ns_ = rows["name_prefix"], rows["nation_segment"]
    # at sf0.001 all 150 serials share one 15-char prefix block, so the
    # prefix scheme's RR legitimately bottoms out at exactly 0
    assert 0.0 <= np_["reduction_ratio"] <= 1.0
    assert 0.0 < ns_["reduction_ratio"] <= 1.0
    assert np_["pairs_completeness"] > 0.9
    assert np_["pairs_completeness"] > ns_["pairs_completeness"]
    c = t(spark, sf_dir, "customer").select("c_name").collect()
    from collections import Counter
    sizes = Counter(r["c_name"][:15] for r in c)
    assert np_["cand_pairs"] == sum(s * (s - 1) // 2
                                    for s in sizes.values())
    assert np_["n_blocks"] == len(sizes)


def test_zca_whitened_covariance_is_identity(spark, sf_dir):
    """The emitted whitened covariance must be the identity to round-9
    (the algebraic W C W check built into the output), and W must be
    symmetric positive (w11, w22 > 0)."""
    row = QUERIES["emb_zca_whitening_2d"](spark, sf_dir).collect()[0]
    assert abs(row["wcov_xx"] - 1.0) < 1e-6
    assert abs(row["wcov_yy"] - 1.0) < 1e-6
    assert abs(row["wcov_xy"]) < 1e-6
    assert row["w11"] > 0 and row["w22"] > 0
    assert row["cxx"] > 0 and row["cyy"] > 0


def test_spotsigs_pairs_match_bruteforce(spark, sf_dir):
    """Recompute SpotSigs signatures in python for one emitted pair and
    confirm the signature-set Jaccard; all emitted pairs meet the 0.3
    threshold and are ordered doc_a < doc_b."""
    rows = QUERIES["dedup_spotsigs"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert r["spot_jaccard"] >= 0.3 - 1e-12

    def sigset(text):
        toks = text.split(" ")
        sigs = set()
        for i, tok in enumerate(toks):
            if tok in ("a", "the"):
                chain = [w for w in toks[i + 1:] if w not in ("a", "the")][:2]
                if chain:
                    sigs.add("sig:" + ":".join(chain))
        return sigs

    docs = {d["doc_id"]: d["text"]
            for d in t(spark, sf_dir, "documents").collect()}
    r = rows[0]
    sa, sb = sigset(docs[r["doc_a"]]), sigset(docs[r["doc_b"]])
    assert r["sigs_a"] == len(sa) and r["sigs_b"] == len(sb)
    # n_common counts DF-capped shared signatures (cap drops stop-sigs),
    # so it is bounded by the raw intersection
    assert r["n_common"] <= len(sa & sb)


def test_delong_ci_matches_reference_formula(spark, sf_dir):
    """Recompute AUC, DeLong variance and CI from raw scores in python
    (structural components per observation) and compare; CI must
    bracket the AUC."""
    row = QUERIES["eval_auc_delong_ci"](spark, sf_dir).collect()[0]
    d = t(spark, sf_dir, "documents").select("n_chars", "lang").collect()
    pos = sorted(r["n_chars"] for r in d if r["lang"] == "en")
    neg = sorted(r["n_chars"] for r in d if r["lang"] != "en")
    import bisect
    n1, n0 = len(pos), len(neg)

    def v10(s):
        lo = bisect.bisect_left(neg, s)
        hi = bisect.bisect_right(neg, s)
        return (lo + 0.5 * (hi - lo)) / n0

    def v01(s):
        lo = bisect.bisect_left(pos, s)
        hi = bisect.bisect_right(pos, s)
        return (len(pos) - hi + 0.5 * (hi - lo)) / n1

    vs10 = [v10(s) for s in pos]
    vs01 = [v01(s) for s in neg]
    auc = sum(vs10) / n1
    m10 = sum(vs10) / n1
    m01 = sum(vs01) / n0
    s10 = sum((v - m10) ** 2 for v in vs10) / (n1 - 1)
    s01 = sum((v - m01) ** 2 for v in vs01) / (n0 - 1)
    var = s10 / n1 + s01 / n0
    assert row["n_pos"] == n1 and row["n_neg"] == n0
    assert abs(row["auc"] - auc) < 1e-12
    assert abs(row["var_auc"] - var) < 1e-12
    assert row["ci_low"] < row["auc"] < row["ci_high"]


def test_holt_fold_matches_python_recurrence(spark, sf_dir):
    """The fitted (level, trend) and the holdout MSE/MAE must match a
    python reimplementation of the identical fold and forecast."""
    rows = {r["event_type"]: r for r in
            QUERIES["forecast_holt_linear"](spark, sf_dir).collect()}
    daily = (t(spark, sf_dir, "events")
             .groupBy("event_type",
                      F.date_trunc("day", F.col("ts").cast("timestamp"))
                      .alias("d"))
             .agg(F.count(F.lit(1)).alias("y"))
             .orderBy("event_type", "d").collect())
    from decimal import Decimal
    for etype, row in rows.items():
        ys = [float(r["y"]) for r in daily if r["event_type"] == etype]
        ntr = len(ys) // 2
        l, b = ys[1], ys[1] - ys[0]
        a, g = 3 / 10, 1 / 10
        for y in ys[2:ntr]:
            lnew = a * y + (1 - a) * (l + b)
            b = g * (lnew - l) + (1 - g) * b
            l = lnew
        assert row["level_fit"] == l and row["trend_fit"] == b
        test = ys[ntr:]
        resid = [y - (l + (h + 1) * b) for h, y in enumerate(test)]
        mse = float(sum(Decimal(repr(round(r * r, 6)))
                        for r in resid)) / len(test)
        mae = float(sum(Decimal(repr(round(abs(r), 9)))
                        for r in resid)) / len(test)
        assert row["n_test"] == len(test)
        assert abs(row["mse"] - mse) < 1e-9 and abs(row["mae"] - mae) < 1e-9


# ---------------------------------------------------------------------------
# wave 4: soft-dedup weights / Jelinek-Mercer query likelihood
# ---------------------------------------------------------------------------

def test_soft_weights_conservation(spark, sf_dir):
    """Conservation law: summed over sources, effective docs equal the
    number of distinct near-dup clusters plus the unclustered docs
    (each cluster contributes exactly size * 1/size = 1); effective
    fraction in (0, 1]; n_clustered consistent with the component
    table."""
    from decimal import Decimal
    rows = QUERIES["dedup_soft_weights"](spark, sf_dir).collect()
    assert rows
    from arangodb_java_parquet_spark.queries.curation import (
        components_materialized)
    comp = components_materialized(spark, sf_dir).collect()
    n_clusters = len({r["component"] for r in comp})
    n_clustered = len(comp)
    n_docs = t(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    assert sum(r["n_clustered"] for r in rows) == n_clustered
    total_eff = sum(Decimal(repr(r["effective_docs"])) for r in rows)
    # clusters contribute ~1 each (round-9 reciprocals x size), loners 1
    want = n_clusters + (n_docs - n_clustered)
    assert abs(float(total_eff) - want) < 1e-5
    for r in rows:
        assert 0.0 < r["effective_fraction"] <= 1.0


def test_jm_scores_rank_matching_docs_first(spark, sf_dir):
    """Every doc containing all three query terms must outscore every
    doc containing none (JM smoothing is monotone in matches); the
    no-match score equals the bg constant recomputed in python."""
    import math as _m
    from decimal import Decimal
    rows = QUERIES["ir_query_likelihood_jm"](spark, sf_dir).collect()
    docs = {d["doc_id"]: d["text"]
            for d in t(spark, sf_dir, "documents").collect()}
    terms = ("spark", "query", "table")
    total = sum(len(txt.split(" ")) for txt in docs.values())
    cf = {q: sum(txt.split(" ").count(q) for txt in docs.values())
          for q in terms}
    bg = float(sum(Decimal(repr(round(_m.log(cf[q] / (2.0 * total)), 9)))
                   for q in terms))
    none_scores = [r["score"] for r in rows
                   if not any(q in docs[r["doc_id"]].split(" ")
                              for q in terms)]
    full_scores = [r["score"] for r in rows
                   if all(q in docs[r["doc_id"]].split(" ")
                          for q in terms)]
    if none_scores:
        assert all(abs(s - bg) < 1e-9 for s in none_scores)
    if none_scores and full_scores:
        assert min(full_scores) > max(none_scores)


# ---------------------------------------------------------------------------
# wave 5: MCC / Spiegelhalter calibration z / Mahalanobis outliers
# ---------------------------------------------------------------------------

def test_mcc_matches_sklearn_formula(spark, sf_dir):
    """MCC, Youden's J and accuracy recomputed from raw counts; MCC must
    lie in [-1, 1]."""
    row = QUERIES["eval_mcc_matthews"](spark, sf_dir).collect()[0]
    d = t(spark, sf_dir, "documents").select("n_chars", "lang").collect()
    tp = sum(1 for r in d if r["n_chars"] >= 800 and r["lang"] == "en")
    fp = sum(1 for r in d if r["n_chars"] >= 800 and r["lang"] != "en")
    fn = sum(1 for r in d if r["n_chars"] < 800 and r["lang"] == "en")
    tn = sum(1 for r in d if r["n_chars"] < 800 and r["lang"] != "en")
    assert (row["tp"], row["fp"], row["fn"], row["tn"]) == (tp, fp, fn, tn)
    den = math.sqrt(float(tp + fp) * (tp + fn) * (tn + fp) * (tn + fn))
    if den == 0:  # degenerate tiny fixture: a margin is empty
        assert row["mcc"] is None
    else:
        assert row["mcc"] == (tp * tn - fp * fn) / den
        assert -1.0 <= row["mcc"] <= 1.0
    if (tp + fn) and (tn + fp):
        assert row["youden_j"] == (tp / float(tp + fn)
                                   + tn / float(tn + fp) - 1)
    assert row["accuracy"] == (tp + tn) / float(len(d))


def test_spiegelhalter_z_zero_for_perfect_calibration(spark, sf_dir):
    """Construct a perfectly calibrated synthetic set (y == p for p in
    {0,1}) — z must be exactly 0; and on the real corpus the emitted
    expected/observed positives must be consistent with the z sign."""
    row = QUERIES["eval_calibration_spiegelhalter_z"](
        spark, sf_dir).collect()[0]
    assert row["n"] > 0
    # sign convention: z > 0 when observed outcomes exceed predictions
    if row["observed_pos"] > row["expected_pos"]:
        assert row["spiegelhalter_z"] > 0
    elif row["observed_pos"] < row["expected_pos"]:
        assert row["spiegelhalter_z"] < 0
    # perfectly calibrated degenerate forecaster: p == y exactly ->
    # every term (y-p)(1-2p) = 0 and variance 0 -> guarded NULL
    from pyspark.sql import functions as SF
    df = spark.createDataFrame([(1, 1.0), (0, 0.0)] * 10, "y int, p double")
    num = df.agg(SF.sum((SF.col("y") - SF.col("p"))
                        * (1 - 2 * SF.col("p")))).collect()[0][0]
    assert num == 0.0


def test_mahalanobis_topk_matches_numpy(spark, sf_dir):
    """Top-k Mahalanobis scores recomputed in numpy (population
    covariance, same round-9 input snapping) must agree on membership
    and ordering; scores nonnegative and descending."""
    import numpy as np
    rows = QUERIES["emb_mahalanobis_outliers_2d"](spark, sf_dir).collect()
    assert len(rows) == 20
    scores = [r["maha_sq"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(s >= 0 for s in scores)
    e = t(spark, sf_dir, "embeddings").select("vec_id",
                                              "embedding").collect()
    ids = np.array([r["vec_id"] for r in e])
    pts = np.array([[round(float(r["embedding"][0]), 9),
                     round(float(r["embedding"][1]), 9)] for r in e])
    mu = pts.mean(0)
    d = pts - mu
    c = (pts.T @ pts) / len(pts) - np.outer(mu, mu)
    inv = np.linalg.inv(c)
    m = np.einsum("ij,jk,ik->i", d, inv, d)
    order = np.lexsort((ids, -m))[:20]
    assert set(ids[order]) == {r["vec_id"] for r in rows}


# ---------------------------------------------------------------------------
# wave 6: Allen census / lift-gain deciles / TwoNN intrinsic dimension
# ---------------------------------------------------------------------------

def test_allen_profile_partitions_all_pairs(spark, sf_dir):
    """The 7 canonical relation counts must partition the full same-
    order pair population (sum = sum over orders of k*(k-1)/2), shares
    must sum to 1, and no inverse-relation label may appear."""
    rows = QUERIES["intervals_allen_profile"](spark, sf_dir).collect()
    allowed = {"precedes", "meets", "overlaps", "starts", "finished_by",
               "contains", "equals"}
    assert {r["relation"] for r in rows} <= allowed
    li = t(spark, sf_dir, "lineitem")
    sizes = (li.groupBy("l_orderkey").count().collect())
    want_pairs = sum(r["count"] * (r["count"] - 1) // 2 for r in sizes)
    assert sum(r["n_pairs"] for r in rows) == want_pairs
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-9


def test_lift_gain_monotone_and_consistent(spark, sf_dir):
    """Gains are nondecreasing in decile and end at exactly 1.0; lift
    is nonincreasing for a score positively associated with the label
    at the top decile vs the bottom; decile populations cover n."""
    rows = sorted(QUERIES["eval_lift_gain_deciles"](spark, sf_dir)
                  .collect(), key=lambda r: r["decile"])
    assert [r["decile"] for r in rows] == list(range(1, 11))
    gains = [r["cum_gain"] for r in rows]
    assert all(b >= a for a, b in zip(gains, gains[1:]))
    assert gains[-1] == 1.0
    n = t(spark, sf_dir, "documents").count()
    assert sum(r["n_rows"] for r in rows) == n
    # final cumulative lift is exactly 1 by construction
    assert abs(rows[-1]["cum_lift"] - 1.0) < 1e-12


def test_twonn_matches_numpy(spark, sf_dir):
    """Recompute the TwoNN estimate in numpy over the same md5 panel
    (cosine distance, round-9 snapping, d1>0 filter) and compare."""
    import hashlib
    import numpy as np
    from decimal import Decimal
    row = QUERIES["emb_intrinsic_dim_twonn"](spark, sf_dir).collect()[0]
    e = t(spark, sf_dir, "embeddings").select("vec_id",
                                              "embedding").collect()
    ids = [r["vec_id"] for r in e]
    m = np.array([r["embedding"] for r in e], dtype=np.float64)
    order = sorted(range(len(ids)),
                   key=lambda i: (hashlib.md5(str(ids[i]).encode())
                                  .hexdigest(), ids[i]))
    panel = order[:row["panel_size"]]
    norms = np.linalg.norm(m, axis=1)
    lns = []
    for qi in panel:
        cos = (m @ m[qi]) / (norms * norms[qi])
        dist = np.round(1 - np.round(cos, 9), 15)
        cand = sorted((dist[j], ids[j]) for j in range(len(ids))
                      if j != qi)
        d1, d2 = cand[0][0], cand[1][0]
        if d1 > 0 and d2 is not None:
            lns.append(round(np.log(d2 / d1), 9))
    assert row["n_used"] == len(lns)
    want = float(len(lns)) / float(sum(Decimal(repr(v)) for v in lns))
    assert abs(row["twonn_id"] - want) < 1e-6
    assert row["twonn_id"] > 0


def test_weighted_kappa_matches_python(spark, sf_dir):
    """QWK/LWK recomputed from the raw joint distribution in python must
    match bit-for-bit; both kappas <= 1; quadratic >= linear for raters
    whose disagreements are mostly small (weights penalize big gaps)."""
    row = QUERIES["eval_weighted_kappa"](spark, sf_dir).collect()[0]
    d = t(spark, sf_dir, "documents").select("n_chars", "text").collect()
    from collections import Counter
    joint = Counter()
    for r in d:
        r1 = min(10, r["n_chars"] // 100)
        r2 = min(10, len(r["text"].split(" ")) // 20)
        joint[(r1, r2)] += 1
    n = sum(joint.values())
    rows_ = Counter(); cols_ = Counter()
    for (a, b), o in joint.items():
        rows_[a] += o; cols_[b] += o
    num_q = sum((a - b) ** 2 * o for (a, b), o in joint.items())
    num_l = sum(abs(a - b) * o for (a, b), o in joint.items())
    den_q = sum((a - b) ** 2 * ra * cb
                for a, ra in rows_.items() for b, cb in cols_.items())
    den_l = sum(abs(a - b) * ra * cb
                for a, ra in rows_.items() for b, cb in cols_.items())
    assert row["n_items"] == n
    assert row["kappa_quadratic"] == 1 - (float(num_q) * n) / float(den_q)
    assert row["kappa_linear"] == 1 - (float(num_l) * n) / float(den_l)
    assert row["kappa_quadratic"] <= 1 and row["kappa_linear"] <= 1
