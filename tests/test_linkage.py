"""Property tests for the round-7 record-linkage / retrieval operators —
the oracle pins cross-engine value equality; these pin the SEMANTICS
(windowing, capping, scoring, diversification) against independent
python recomputation.
"""

import math

from pyspark.sql import functions as F

from arangodb_java_parquet_spark.queries import QUERIES
from arangodb_java_parquet_spark.queries.common import t


def _token_sets(spark, sf_dir):
    rows = (t(spark, sf_dir, "documents")
            .select("doc_id", "text").collect())
    return {r.doc_id: set(r.text.split(" ")) for r in rows}


def test_snm_pairs_meet_threshold_and_share_block(spark, sf_dir):
    toks = _token_sets(spark, sf_dir)
    blk = {r.doc_id: r.text[:4] for r in
           t(spark, sf_dir, "documents").select("doc_id", "text").collect()}
    out = QUERIES["dedup_sorted_neighborhood"](spark, sf_dir).collect()
    assert out, "SNM emitted no pairs on the smoke corpus"
    for r in out:
        a, b = toks[r.doc_a], toks[r.doc_b]
        jac = len(a & b) / len(a | b)
        assert abs(jac - r.jaccard) < 1e-12, (r.doc_a, r.doc_b)
        assert jac >= 0.30
        # blocked SNM: pairs can only form inside a 4-char lead block
        assert blk[r.doc_a] == blk[r.doc_b]


def test_ppjoin_pairs_are_exact_jaccard_subset(spark, sf_dir):
    """Every emitted pair's (overlap, jaccard) must equal the exact
    python recomputation and clear t = 7/10; the cap may FORFEIT pairs
    (bounded-evidence contract) but must never fabricate or mis-score
    one."""
    toks = _token_sets(spark, sf_dir)
    out = QUERIES["dedup_ppjoin_prefix"](spark, sf_dir).collect()
    assert out, "PPJoin emitted no pairs on the smoke corpus"
    for r in out:
        a, b = toks[r.doc_a], toks[r.doc_b]
        inter, union = len(a & b), len(a | b)
        assert r.overlap == inter
        assert r.sa == len(a) and r.sb == len(b)
        assert abs(r.jaccard - inter / union) < 1e-12
        assert 10 * inter >= 7 * union


def test_fellegi_sunter_score_matches_python_log_weights(spark, sf_dir):
    out = QUERIES["linkage_fellegi_sunter"](spark, sf_dir).limit(50).collect()
    assert out
    W = {"brand": (90, 20), "noun": (85, 10), "price": (80, 30)}
    for r in out:
        expect = 0.0
        for name, flag in (("brand", r.agree_brand), ("noun", r.agree_noun),
                           ("price", r.agree_price)):
            m, u = W[name]
            expect += (math.log(m / u) if flag == 1
                       else math.log((100 - m) / (100 - u)))
        assert abs(r.fs_score - expect) < 1e-9
        assert r.agree_brand + r.agree_noun + r.agree_price >= 2


def test_mmr_diversifies_vs_plain_topk(spark, sf_dir):
    """MMR's picks must (a) lead with the most-relevant item and
    (b) never be MORE redundant than plain top-3 by max pairwise
    cosine."""
    import numpy as np
    emb = {r.vec_id: np.array(r.embedding, dtype=np.float64)
           for r in t(spark, sf_dir, "embeddings").collect()}

    def cos(x, y):
        return float(np.dot(x, y) / (np.linalg.norm(x) * np.linalg.norm(y)))

    q = emb[0]
    rel = sorted(((cos(q, v), -vid) for vid, v in emb.items() if vid != 0),
                 reverse=True)
    plain = [-x[1] for x in rel[:3]]
    out = sorted(QUERIES["sim_mmr_diversified_topk"](spark, sf_dir)
                 .collect(), key=lambda r: r.rank)
    picks = [r.vid for r in out]
    assert len(picks) == 3 and len(set(picks)) == 3
    assert picks[0] == plain[0]  # rank 1 is pure relevance

    def max_pair(ids):
        return max(cos(emb[a], emb[b])
                   for i, a in enumerate(ids) for b in ids[i + 1:])

    assert max_pair(picks) <= max_pair(plain) + 1e-9


def test_dsir_weights_favor_target_sources(spark, sf_dir):
    """The importance weight is ln(p_target/p_raw) summed over tokens —
    documents FROM the target domain should average higher than the
    rest (they are what the target LM was fit on)."""
    df = QUERIES["quality_dsir_weights"](spark, sf_dir)
    src = t(spark, sf_dir, "documents").select("doc_id", "source")
    j = (df.join(src, "doc_id")
         .withColumn("is_tgt",
                     F.col("source").isin("src0", "src1").cast("int"))
         .groupBy("is_tgt")
         .agg((F.sum(F.col("log_importance"))
               / F.sum("n_tokens")).alias("per_token"))
         .collect())
    per = {r.is_tgt: r.per_token for r in j}
    assert per[1] > per[0]


def test_luhn_validation_matches_python(spark, sf_dir):
    def luhn_ok(ds):
        s = 0
        n = len(ds)
        for i, ch in enumerate(ds):
            d = int(ch)
            if (n - 1 - i) % 2 == 1:
                d *= 2
                if d > 9:
                    d -= 9
            s += d
        return s % 10 == 0

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey").collect()
    expect = {}
    for r in o:
        shard = r.o_orderkey % 5
        digits = str(r.o_custkey * 100 + r.o_orderkey % 100)
        k = expect.setdefault(shard, [0, 0])
        k[0] += 1
        k[1] += luhn_ok(digits)
    out = QUERIES["pii_luhn_validate"](spark, sf_dir).collect()
    for r in out:
        assert [r.n_ids, r.n_luhn_valid] == expect[r.shard]


def test_ams_estimate_is_sane_and_matches_exact_recompute(spark, sf_dir):
    """The AMS output is ONE averaged row; recompute the exact moment in
    python and fence the 16-estimator average loosely (variance of a
    single estimator is ~2*F2^2; /16 keeps typical error under ~50%)."""
    from collections import Counter
    texts = [r.text for r in
             t(spark, sf_dir, "documents").select("text").collect()]
    c = Counter(tok for s in texts for tok in s.split(" "))
    n = sum(c.values())
    exact = sum(v * v for v in c.values()) / n / n
    row = QUERIES["agg_ams_f2_sketch"](spark, sf_dir).collect()
    assert len(row) == 1
    r = row[0]
    assert r.n_tokens == n
    assert abs(r.exact_sum_p2 - exact) < 1e-12
    assert r.ams_sum_p2 > 0
    assert abs(r.rel_error) < 1.0  # loose sanity fence, not a bound


def test_diversity_matches_exact_collision_mass(spark, sf_dir):
    """Collision mass per hash column recomputed in python from the
    signature table must equal the query's coll_pairs."""
    from collections import Counter

    from arangodb_java_parquet_spark.operators.dedup import (
        char_shingles, minhash_signatures)
    d = t(spark, sf_dir, "documents")
    sigs = minhash_signatures(char_shingles(d)).collect()
    out = {r.hash_idx: r for r in
           QUERIES["corpus_diversity_minhash"](spark, sf_dir).collect()}
    n = len(sigs)
    for j in range(8):
        c = Counter(getattr(r, f"h{j}") for r in sigs)
        mass = sum(v * (v - 1) for v in c.values())
        assert out[j].coll_pairs == mass
        assert out[j].n_docs == n
        assert 0.0 <= out[j].diversity <= 1.0


def test_prf_expansion_excludes_query_terms(spark, sf_dir):
    rows = QUERIES["ir_query_expansion_prf"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 10
    terms = {r.term for r in rows}
    assert terms.isdisjoint({"spark", "query", "table"})
    # offer weights are rank-ordered
    ordered = sorted(rows, key=lambda r: r.rn)
    for a, b in zip(ordered, ordered[1:]):
        assert (a.offer_weight, ) >= (b.offer_weight, )


def test_reconcile_bands_partition_the_order_count(spark, sf_dir):
    out = {r.band: r.n_orders for r in
           QUERIES["dq_header_detail_reconcile"](spark, sf_dir).collect()}
    n_orders = t(spark, sf_dir, "orders").count()
    band_sum = sum(v for k, v in out.items()
                   if k != "detail_without_header")
    assert band_sum == n_orders  # bands partition the header universe


def test_sequence_gap_audit_recomputes(spark, sf_dir):
    li = (t(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_linenumber").collect())
    per = {}
    for r in li:
        per.setdefault(r.l_orderkey, []).append(r.l_linenumber)
    out = {r.l_orderkey: r for r in
           QUERIES["dq_sequence_gap_audit"](spark, sf_dir).collect()}
    for key, nums in per.items():
        lo, hi, nd, n = min(nums), max(nums), len(set(nums)), len(nums)
        flagged = (hi - lo + 1 != nd) or (n != nd) or (lo != 1)
        assert (key in out) == flagged, key
        if flagged:
            r = out[key]
            assert r.n_missing == hi - lo + 1 - nd
            assert r.n_dup == n - nd


def test_incremental_rollup_state_survives_batches(spark, sf_dir):
    """The maintained rollup equals a direct full aggregation (count and
    decimal-exact sum per (day, type)) — merge == recompute."""
    out = QUERIES["stream_incremental_daily_rollup"](spark, sf_dir)
    direct = (t(spark, sf_dir, "events")
              .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"),
                       "event_type")
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.sum(F.col("value").cast("decimal(30,8)"))
                   .cast("double").alias("sum_value")))
    got = {(r.day, r.event_type): (r.n_events, r.sum_value)
           for r in out.collect()}
    want = {(r.day, r.event_type): (r.n_events, r.sum_value)
            for r in direct.collect()}
    assert got == want
