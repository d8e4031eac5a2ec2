"""Unit tests for dataset-curation operators (operators/curation.py):
decontamination, connected components, deterministic sampling, packing."""

import pytest
from pyspark.sql import functions as F

from arangodb_java_parquet_spark.operators.curation import (
    connected_components, decontaminate, hash_sample, pack_sequences)


def test_decontaminate_counts_shared_ngrams(spark):
    train = spark.createDataFrame(
        [(1, "a b c d e f"),        # shares 3-gram "b c d", "c d e" w/ bench
         (2, "x y z w q r"),        # no overlap
         (3, "a b c d x")],         # shares "b c d"
        ["id", "txt"])
    bench = spark.createDataFrame([(100, "z b c d e")], ["id", "txt"])
    out = {r["id"]: r["n_hit_grams"]
           for r in decontaminate(train, bench, "txt", "id", n=3).collect()}
    # bench 3-grams: "z b c", "b c d", "c d e"
    assert out == {1: 2, 3: 1}


def test_connected_components_chain_and_clique(spark):
    # chain 1-2-3-4 (diameter 3, needs >1 iteration) + clique {10,11,12}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12)],
        ["doc_a", "doc_b"])
    got = {r["node"]: r["component"]
           for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}


def test_connected_components_deterministic_across_partitioning(spark):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 30)], ["doc_a", "doc_b"])
    a = sorted(map(tuple, connected_components(pairs).collect()))
    b = sorted(map(tuple,
                   connected_components(pairs.repartition(7)).collect()))
    assert a == b
    assert all(c == 1 for _, c in a)


def test_connected_components_raises_when_unconverged(spark):
    # an 8-node chain needs more than 2 rounds even with the shortcut;
    # returning its round-2 labels would split the component
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], ["doc_a", "doc_b"])
    with pytest.raises(RuntimeError, match="max_iter=2"):
        connected_components(pairs, max_iter=2)
    got = {r["node"]: r["component"]
           for r in connected_components(pairs).collect()}
    assert got == {i: 1 for i in range(1, 9)}


def test_hash_sample_deterministic_and_rate_monotone(spark):
    df = spark.createDataFrame([(i,) for i in range(2000)], ["id"])
    s30 = hash_sample(df, "id", 0.3)
    s60 = hash_sample(df, "id", 0.6)
    ids30 = {r["id"] for r in s30.collect()}
    ids60 = {r["id"] for r in s60.collect()}
    # determinism under repartitioning
    again = {r["id"] for r in hash_sample(df.repartition(13), "id", 0.3)
             .collect()}
    assert ids30 == again
    # nested: a row sampled at 30% is sampled at 60%
    assert ids30 <= ids60
    # rate is approximately honored
    assert 0.25 < len(ids30) / 2000 < 0.35
    assert 0.55 < len(ids60) / 2000 < 0.65


def test_hash_sample_stratified_rates(spark):
    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(2000)],
        ["id", "lang"])
    out = hash_sample(df, "id", 0.1, stratum_col="lang",
                      rates={"en": 0.8}).collect()
    en = sum(1 for r in out if r["lang"] == "en")
    de = sum(1 for r in out if r["lang"] == "de")
    assert 0.7 < en / 1000 < 0.9
    assert 0.05 < de / 1000 < 0.15


def test_pack_sequences_offsets_exact(spark):
    df = spark.createDataFrame(
        [(1, "s", 300), (2, "s", 300), (3, "s", 300), (4, "other", 100)],
        ["id", "shard", "toks"])
    rows = {(r["id"]): (r["seq_id"], r["offset_in_seq"], r["start_offset"])
            for r in pack_sequences(df, "id", "toks", "shard", 512)
            .collect()}
    assert rows[1] == (0, 0, 0)
    assert rows[2] == (0, 300, 300)     # starts at 300, straddles boundary
    assert rows[3] == (1, 88, 600)      # 600 = floor 1, offset 600-512
    assert rows[4] == (0, 0, 0)         # separate shard packs independently


def test_bipartite_cc_equivalent_to_pairwise(spark):
    """The bipartite (node×group) formulation finds the same components as
    pairwise propagation over the expanded pair graph."""
    from pyspark.sql import functions as F

    from arangodb_java_parquet_spark.operators.curation import (
        connected_components_bipartite)
    # groups: {1,2,3}, {3,4}, {7,8}, {9} (singleton: excluded), chain via 3
    member = spark.createDataFrame(
        [(1, "g1"), (2, "g1"), (3, "g1"), (3, "g2"), (4, "g2"),
         (7, "g3"), (8, "g3"), (9, "g4")], ["node_id", "grp"])
    got = {r["node"]: r["component"]
           for r in connected_components_bipartite(
               member, "node_id", ["grp"]).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}
    # pairwise on the expanded pairs agrees
    a = member.alias("a")
    b = member.alias("b")
    pairs = (a.join(b, (F.col("a.grp") == F.col("b.grp"))
                    & (F.col("a.node_id") < F.col("b.node_id")))
             .select(F.col("a.node_id").alias("doc_a"),
                     F.col("b.node_id").alias("doc_b")))
    pw = {r["node"]: r["component"]
          for r in connected_components(pairs).collect()}
    assert pw == got


def test_unigram_logprob_small_corpus(spark):
    from arangodb_java_parquet_spark.operators.curation import unigram_logprob
    import math
    # corpus: "a a b" + "b c" -> counts a=2 b=2 c=1, total=5
    df = spark.createDataFrame([(1, "a a b"), (2, "b c")], ["id", "txt"])
    got = {r["id"]: r for r in
           unigram_logprob(df, "txt", "id").collect()}
    # the count>=2 floor is VALUE-NEUTRAL: the singleton c scores the
    # floor ln(1/total), which is its exact fitted logp, so scores match
    # the exact unigram model while the broadcast vocab drops the tail
    lp = {t: round(math.log(c / 5), 9) for t, c in
          {"a": 2, "b": 2, "c": 1}.items()}
    assert got[1]["n_tokens"] == 3
    assert got[1]["avg_logprob"] == pytest.approx(
        round((2 * lp["a"] + lp["b"]) / 3, 9), abs=1e-9)
    assert got[2]["avg_logprob"] == pytest.approx(
        round((lp["b"] + lp["c"]) / 2, 9), abs=1e-9)


def test_cap_per_group_deterministic_and_bounded(spark):
    from arangodb_java_parquet_spark.operators.curation import cap_per_group
    df = spark.createDataFrame(
        [(i, "g%d" % (i % 3)) for i in range(60)], ["id", "grp"])
    out = cap_per_group(df, "id", "grp", 5)
    counts = {r["grp"]: r["n"] for r in
              out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert counts == {"g0": 5, "g1": 5, "g2": 5}
    # layout-independent choice of survivors
    a = sorted(r["id"] for r in out.collect())
    b = sorted(r["id"] for r in
               cap_per_group(df.repartition(13), "id", "grp", 5).collect())
    assert a == b


def test_cap_per_group_mega_group_is_salted(spark):
    """One pathological mega-group must NOT be sorted by a single window
    task: the pre-cap window partitions by (group, salt) — visible in the
    plan as a windowspecdefinition over both columns — and the exact
    window only ever sees <= n_salts * n survivors per group. Result must
    equal the unsalted (n_salts=1) formulation exactly."""
    from arangodb_java_parquet_spark.operators.curation import cap_per_group
    rows = [(i, "mega" if i < 5000 else "tail%d" % (i % 7))
            for i in range(5500)]
    df = spark.createDataFrame(rows, ["id", "grp"])
    out = cap_per_group(df, "id", "grp", 5, n_salts=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__cap_salt" in plan  # pre-cap window keyed by (group, salt)
    got = sorted(r["id"] for r in out.collect())
    ref = sorted(r["id"] for r in
                 cap_per_group(df, "id", "grp", 5, n_salts=1).collect())
    assert got == ref
    assert len(got) == 5 + 7 * 5
    # survivors reaching the exact window are bounded per group
    counts = (out.groupBy("grp").count().collect())
    assert all(r["count"] <= 5 for r in counts)


def test_redact_pii_counts_and_text(spark):
    from arangodb_java_parquet_spark.operators.curation import redact_pii
    df = spark.createDataFrame(
        [(1, "mail bob.smith+x@corp.example.org and +1-555-012-3456 ok"),
         (2, "no pii here")], ["id", "txt"])
    cols = redact_pii("txt")
    out = {r["id"]: r for r in
           df.select("id", cols["redacted"].alias("red"),
                     cols["n_emails"].alias("ne"),
                     cols["n_phones"].alias("np")).collect()}
    assert out[1]["ne"] == 1 and out[1]["np"] == 1
    assert out[1]["red"] == "mail <EMAIL> and <PHONE> ok"
    assert out[2]["ne"] == 0 and out[2]["np"] == 0
    assert out[2]["red"] == "no pii here"


def test_semdedup_prune_drops_higher_id_near_dup(spark):
    from arangodb_java_parquet_spark.operators.similarity import (
        semdedup_prune)
    # ids 0,1: near-identical vectors (cos ~1); id 2: orthogonal-ish
    rows = [(0, [1.0, 0.0, 0.0]), (1, [0.999, 0.01, 0.0]),
            (2, [0.0, 1.0, 0.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]) \
        .withColumn("embedding", F.col("embedding").cast("array<float>"))
    # cent_mod=3 -> single centroid (id 0), all vectors share one cell
    out = semdedup_prune(df, id_col="vec_id", vec_col="embedding",
                         cent_mod=3, tau=0.9).collect()
    assert [(r["vec_id"], r["n_dups"]) for r in out] == [(1, 1)]


def test_rollup_cascade_equals_flat_daily(spark, sf_dir):
    """Cascading daily-from-hourly rollup must exactly equal the flat
    daily aggregation (decomposable aggregates + decimal partials)."""
    from arangodb_java_parquet_spark.queries.common import QUERIES, t
    cascade = {(r["day"], r["event_type"]): (r["n_events"], r["sum_value"])
               for r in QUERIES["rollup_cascade_daily"](
                   spark, sf_dir).collect()}
    e = t(spark, sf_dir, "events")
    flat = {(r["day"], r["event_type"]): (r["n"], r["s"])
            for r in e.groupBy(
                F.date_trunc("day", "ts").cast("date").alias("day"),
                "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("value").cast("decimal(30,8)"))
                 .cast("double").alias("s")).collect()}
    assert cascade == flat


def test_hll_merged_estimate_near_exact(spark, sf_dir):
    """Unioned daily HLL sketches must estimate per-type distinct users
    within a few percent of the exact count."""
    from arangodb_java_parquet_spark.queries.common import QUERIES, t
    est = {r["event_type"]: r["approx_users"]
           for r in QUERIES["agg_hll_mergeable_sketches"](
               spark, sf_dir).collect()}
    e = t(spark, sf_dir, "events")
    exact = {r["event_type"]: r["n"]
             for r in e.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    assert set(est) == set(exact)
    for k in exact:
        assert abs(est[k] - exact[k]) / exact[k] < 0.05, (k, est[k], exact[k])


def test_grouped_pandas_zscore_matches_jvm(spark, sf_dir):
    """applyInPandas z-scores agree with the JVM window formulation within
    float tolerance on every row."""
    from pyspark.sql import Window as W

    from arangodb_java_parquet_spark.queries.common import QUERIES, t
    got = {r["vec_id"]: r["z"]
           for r in QUERIES["emb_zscore_grouped_pandas"](
               spark, sf_dir).collect()}
    e = t(spark, sf_dir, "embeddings")
    w = W.partitionBy("label")
    x = F.col("embedding").getItem(0).cast("double")
    jvm = {r["vec_id"]: r["z"] for r in
           e.select("vec_id",
                    ((x - F.mean(x).over(w)) / F.stddev_pop(x).over(w))
                    .alias("z")).collect()}
    assert set(got) == set(jvm)
    assert all(abs(got[k] - jvm[k]) < 1e-9 for k in jvm)


def test_pagerank_fixed_star_graph_exact(spark):
    """Hand-computed 2-iteration PageRank on a symmetric star graph (hub
    + 3 leaves) — checks the exact rounding/decimal-sum semantics the
    oracle relies on, plus layout independence."""
    from arangodb_java_parquet_spark.operators.curation import (
        pagerank_fixed)
    pairs = [(0, i) for i in (1, 2, 3)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], ["src", "dst"])
    got = {r["node"]: r["rank"]
           for r in pagerank_fixed(edges, "src", "dst",
                                   iterations=2).collect()}
    # iter1: leaf = .15+.85*round(1/3,7) = .4333333; hub = .15+.85*3 = 2.7
    # iter2: leaf = .15+.85*round(2.7/3,7) = .915
    #        hub  = .15+.85*(3*.4333333) = .15+.85*1.2999999 = 1.2549999
    assert got[0] == 1.2549999
    assert all(got[i] == 0.915 for i in (1, 2, 3))
    again = {r["node"]: r["rank"]
             for r in pagerank_fixed(edges.repartition(5), "src", "dst",
                                     iterations=2).collect()}
    assert again == got


def test_approx_distinct_within_rsd_of_exact(spark, sf_dir):
    """agg_approx_distinct is rows-only by design (HLL++ sketch values are
    engine-specific) — this pins its ACCURACY instead: per-group
    approx_count_distinct within a few relative-standard-deviations of the
    exact distinct, and approx_percentile(0.5) between the exact 40th and
    60th percentiles."""
    from arangodb_java_parquet_spark.queries.common import QUERIES, t
    got = {r["o_orderpriority"]: r for r in
           QUERIES["agg_approx_distinct"](spark, sf_dir).collect()}
    o = t(spark, sf_dir, "orders")
    exact = {r["o_orderpriority"]: r for r in
             (o.groupBy("o_orderpriority")
              .agg(F.countDistinct("o_custkey").alias("n"),
                   F.expr("percentile(o_totalprice, array(0.4, 0.5, 0.6))")
                   .alias("p"))).collect()}
    assert set(got) == set(exact)
    for k, e in exact.items():
        # default rsd is 0.05; 3*rsd is a >99% confidence band for HLL++
        rel = abs(got[k]["approx_customers"] - e["n"]) / e["n"]
        assert rel < 0.15, (k, got[k]["approx_customers"], e["n"], rel)
        p40, _, p60 = e["p"]
        assert p40 <= got[k]["approx_median_price"] <= p60, (
            k, got[k]["approx_median_price"], e["p"])


def test_approx_quantile_within_tolerance(spark, sf_dir):
    """agg_approx_quantile is rows-only by design (t-digest interpolation
    is engine-specific) — pin its accuracy: every approx percentile within
    2% relative error of the exact percentile for its group."""
    from arangodb_java_parquet_spark.queries.common import QUERIES, t
    got = {r["o_orderpriority"]: r["approx_pcts"] for r in
           QUERIES["agg_approx_quantile"](spark, sf_dir).collect()}
    o = t(spark, sf_dir, "orders")
    exact = {r["o_orderpriority"]: r["pcts"] for r in
             (o.groupBy("o_orderpriority")
              .agg(F.expr("percentile(o_totalprice,"
                          " array(0.5D, 0.9D, 0.99D))").alias("pcts"))
              .collect())}
    assert set(got) == set(exact) and got
    for prio, approx in got.items():
        for a, e in zip(approx, exact[prio]):
            assert abs(a - e) <= 0.02 * abs(e), (prio, a, e)


def test_bloom_prefilter_no_false_negatives(spark, sf_dir):
    """The bloom pre-screen may over-flag (false positives) but must NEVER
    under-flag: every document whose normalized fingerprint matches a
    reference-set document must come through flagged."""
    from arangodb_java_parquet_spark.operators.dedup import (bloom_build,
                                                             bloom_probe)
    from arangodb_java_parquet_spark.queries.common import t
    d = t(spark, sf_dir, "documents")
    fp = F.lower(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    fps = d.select("doc_id", fp.alias("fp"))
    ref = fps.filter(F.col("doc_id") % 20 == 0)
    bench_fps = {r[0] for r in ref.select("fp").collect()}
    flagged = bloom_probe(fps, "fp", bloom_build(ref, "fp")).collect()
    true_dups = [r for r in flagged if r["fp"] in bench_fps]
    assert true_dups, "reference set should overlap itself"
    assert all(r["maybe_dup"] for r in true_dups)
    # and the filter actually filters: false-positive rate bounded
    others = [r for r in flagged if r["fp"] not in bench_fps]
    fp_rate = sum(bool(r["maybe_dup"]) for r in others) / max(len(others), 1)
    assert fp_rate < 0.2, fp_rate


def test_bloom_probe_preserves_duplicate_rows_and_guards_columns(spark):
    """bloom_probe must emit exactly one output row per INPUT row (fold-back
    keyed by a per-row id, not groupBy(all columns) which collapses
    duplicates), and must reject inputs whose columns collide with its
    reserved internal names."""
    import pytest

    from arangodb_java_parquet_spark.operators.dedup import (bloom_build,
                                                             bloom_probe)
    df = spark.createDataFrame(
        [("a",), ("a",), ("b",), ("c",), ("c",), ("c",)], ["k"])
    ref = spark.createDataFrame([("a",), ("x",)], ["k"])
    out = bloom_probe(df, "k", bloom_build(ref, "k")).collect()
    assert len(out) == 6  # duplicates preserved
    by_key = {}
    for r in out:
        by_key.setdefault(r["k"], []).append(r["maybe_dup"])
    assert by_key["a"] == [True, True]  # member: always flagged, both copies
    assert len(by_key["c"]) == 3

    clash = spark.createDataFrame([("a", 1)], ["k", "word_idx"])
    with pytest.raises(ValueError, match="reserved"):
        bloom_probe(clash, "k", bloom_build(ref, "k"))


def test_substring_span_diagonal_runs(spark):
    """The diagonal run-length formulation must recover the exact longest
    shared token run on planted overlaps (incl. an offset repeat and a
    no-overlap pair)."""
    from pyspark.sql import Window as W

    # reimplement the span core over explicit pairs (no LSH) to test the
    # diagonal trick in isolation
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"),
         (2, "x y c d e f z q"),       # shares "c d e f" (4 tokens)
         (3, "p q r s t u v w"),       # shares nothing with 1
         (4, "a b c d e f g h")],      # identical to 1 (8 tokens)
        ["doc_id", "text"])
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], ["doc_a", "doc_b"])
    gram_arr = F.expr(
        "transform(sequence(1, size(split(text, ' ')) - 2),"
        " i -> md5(array_join(slice(split(text, ' '), i, 3), ' ')))")
    grams = (docs.select("doc_id", F.posexplode(gram_arr).alias("p0", "gh"))
             .select("doc_id", (F.col("p0") + 1).alias("pos"), "gh"))
    hits = (pairs
            .join(grams.select(F.col("doc_id").alias("doc_a"),
                               F.col("pos").alias("i"), "gh"), "doc_a")
            .join(grams.select(F.col("doc_id").alias("doc_b"),
                               F.col("pos").alias("j"), "gh"),
                  ["doc_b", "gh"]))
    runs = hits.select(
        "doc_a", "doc_b", (F.col("j") - F.col("i")).alias("d"), "i",
        (F.col("i") - F.row_number().over(
            W.partitionBy("doc_a", "doc_b", F.col("j") - F.col("i"))
            .orderBy("i"))).alias("grp"))
    spans = (runs.groupBy("doc_a", "doc_b", "d", "grp")
             .agg(F.count(F.lit(1)).alias("run_grams")))
    out = {(r.doc_a, r.doc_b): r.longest for r in
           spans.groupBy("doc_a", "doc_b")
           .agg((F.max("run_grams") + 2).alias("longest")).collect()}
    assert out[(1, 2)] == 4       # "c d e f"
    assert out[(1, 4)] == 8       # full doc
    assert (1, 3) not in out      # no shared 3-gram at all


def test_bpe_greedy_run_parity(spark):
    """Greedy left-to-right BPE application on overlapping candidates:
    'a a a a' with merge (a,a) must yield exactly 2 merges (positions 0
    and 2), and 'a a a' exactly 1 (position 0) — the odd-rank-within-run
    rule, not 'merge every candidate'."""
    from pyspark.sql import Window as W

    docs = spark.createDataFrame(
        [(1, "a a a a b"), (2, "a a a"), (3, "b a a b a a")],
        ["doc_id", "text"])
    state = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("i", "tok"))
    pairs = state.withColumn(
        "nxt", F.lead("tok").over(W.partitionBy("doc_id").orderBy("i")))
    cand = pairs.filter((F.col("tok") == "a") & (F.col("nxt") == "a")) \
        .select("doc_id", "i")
    runs = cand.withColumn(
        "grp", F.col("i") - F.row_number().over(
            W.partitionBy("doc_id").orderBy("i")))
    merge = (runs.withColumn(
                "rn", F.row_number().over(
                    W.partitionBy("doc_id", "grp").orderBy("i")))
             .filter(F.col("rn") % 2 == 1))
    got = sorted((r.doc_id, r.i) for r in merge.collect())
    assert got == [(1, 0), (1, 2), (2, 0), (3, 1), (3, 4)]


def test_bpe_relational_step_matches_python_reference(spark):
    """One full relational BPE round (pair count -> argmax -> greedy
    apply) must match a straightforward sequential python implementation
    on 30 seeded-random token sequences from a tiny alphabet (maximal
    overlap pressure)."""
    import random

    from pyspark.sql import Window as W

    rng = random.Random(7)
    docs = [(i, " ".join(rng.choice("ab") for _ in range(rng.randint(3, 14))))
            for i in range(30)]

    # python reference
    def pair_counts(seqs):
        c = {}
        for s in seqs:
            for x, y in zip(s, s[1:]):
                c[(x, y)] = c.get((x, y), 0) + 1
        return c

    def apply_merge(tokens, a, b):
        out, i = [], 0
        while i < len(tokens):
            if i + 1 < len(tokens) and tokens[i] == a and tokens[i + 1] == b:
                out.append(a + "_" + b)
                i += 2
            else:
                out.append(tokens[i])
                i += 1
        return out

    seqs = {i: s.split(" ") for i, s in docs}
    cnts = pair_counts(seqs.values())
    best = min(cnts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
    expected = {i: apply_merge(s, *best) for i, s in seqs.items()}

    # relational step (the query's loop body)
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    state = df.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("i", "tok"))
    pairs = state.withColumn(
        "nxt", F.lead("tok").over(W.partitionBy("doc_id").orderBy("i")))
    got_best = (pairs.filter(F.col("nxt").isNotNull())
                .groupBy("tok", "nxt")
                .agg(F.count(F.lit(1)).alias("c"))
                .orderBy(F.desc("c"), F.asc("tok"), F.asc("nxt"))
                .first())
    assert (got_best["tok"], got_best["nxt"]) == best
    a, b = best
    cand = pairs.filter((F.col("tok") == a) & (F.col("nxt") == b)) \
        .select("doc_id", "i")
    runs = cand.withColumn(
        "grp", F.col("i") - F.row_number().over(
            W.partitionBy("doc_id").orderBy("i")))
    merge = (runs.withColumn(
                "rn", F.row_number().over(
                    W.partitionBy("doc_id", "grp").orderBy("i")))
             .filter(F.col("rn") % 2 == 1)
             .select("doc_id", "i", F.lit(True).alias("m")))
    new_state = (pairs
                 .join(merge, ["doc_id", "i"], "left")
                 .join(merge.select("doc_id", (F.col("i") + 1).alias("i"),
                                    F.col("m").alias("prev_m")),
                       ["doc_id", "i"], "left")
                 .filter(F.col("prev_m").isNull())
                 .select("doc_id", "i",
                         F.when(F.col("m"), F.concat_ws("_", "tok", "nxt"))
                         .otherwise(F.col("tok")).alias("tok")))
    got = {}
    for r in new_state.orderBy("doc_id", "i").collect():
        got.setdefault(r.doc_id, []).append(r.tok)
    assert got == expected


def test_substring_span_matches_dp_reference(spark):
    """The diagonal run-length LCS must equal the classic O(n*m) dynamic
    program on seeded-random token pairs (reporting only runs >= 3
    tokens, the gram width)."""
    import random

    from pyspark.sql import Window as W

    rng = random.Random(11)
    docs, pairs_list = [], []
    for p in range(15):
        a = [rng.choice("abcd") for _ in range(rng.randint(3, 12))]
        b = [rng.choice("abcd") for _ in range(rng.randint(3, 12))]
        if rng.random() < 0.5:  # plant a shared span
            span = [rng.choice("abcd") for _ in range(rng.randint(3, 6))]
            ai = rng.randint(0, len(a))
            bi = rng.randint(0, len(b))
            a = a[:ai] + span + a[ai:]
            b = b[:bi] + span + b[bi:]
        docs.append((2 * p, " ".join(a)))
        docs.append((2 * p + 1, " ".join(b)))
        pairs_list.append((2 * p, 2 * p + 1))

    def lcs_run(A, B):
        best = 0
        prev = [0] * (len(B) + 1)
        for i in range(1, len(A) + 1):
            cur = [0] * (len(B) + 1)
            for j in range(1, len(B) + 1):
                if A[i - 1] == B[j - 1]:
                    cur[j] = prev[j - 1] + 1
                    best = max(best, cur[j])
            prev = cur
        return best

    seqs = {i: s.split(" ") for i, s in docs}
    expected = {}
    for da, db in pairs_list:
        r = lcs_run(seqs[da], seqs[db])
        if r >= 3:
            expected[(da, db)] = r

    ddf = spark.createDataFrame(docs, ["doc_id", "text"])
    pdf = spark.createDataFrame(pairs_list, ["doc_a", "doc_b"])
    gram_arr = F.expr(
        "transform(sequence(1, size(split(text, ' ')) - 2),"
        " i -> md5(array_join(slice(split(text, ' '), i, 3), ' ')))")
    grams = (ddf.filter(F.size(F.split("text", " ")) >= 3)
             .select("doc_id", F.posexplode(gram_arr).alias("p0", "gh"))
             .select("doc_id", (F.col("p0") + 1).alias("pos"), "gh"))
    hits = (pdf
            .join(grams.select(F.col("doc_id").alias("doc_a"),
                               F.col("pos").alias("i"), "gh"), "doc_a")
            .join(grams.select(F.col("doc_id").alias("doc_b"),
                               F.col("pos").alias("j"), "gh"),
                  ["doc_b", "gh"]))
    runs = hits.select(
        "doc_a", "doc_b", (F.col("j") - F.col("i")).alias("d"), "i",
        (F.col("i") - F.row_number().over(
            W.partitionBy("doc_a", "doc_b", F.col("j") - F.col("i"))
            .orderBy("i"))).alias("grp"))
    spans = (runs.groupBy("doc_a", "doc_b", "d", "grp")
             .agg(F.count(F.lit(1)).alias("run_grams")))
    got = {(r.doc_a, r.doc_b): r.longest + 2 for r in
           spans.groupBy("doc_a", "doc_b")
           .agg(F.max("run_grams").alias("longest")).collect()}
    assert got == expected


def test_pseudonymize_handles_stable(spark, sf_dir):
    """Same email -> same handle everywhere (referential integrity), and
    distinct emails -> distinct handles."""
    import re

    from arangodb_java_parquet_spark.queries.common import QUERIES
    rows = QUERIES["pii_pseudonymize"](spark, sf_dir).collect()
    by_email_key = {}
    for r in rows:
        m = re.findall(r"user_[0-9a-f]{10}", r.pseudonymized)
        assert r.n_emails == 1 and len(m) == 1, r
        by_email_key.setdefault(r.doc_id % 50, set()).add(m[0])
    assert all(len(v) == 1 for v in by_email_key.values())
    handles = {next(iter(v)) for v in by_email_key.values()}
    assert len(handles) == len(by_email_key)


def test_capped_lsh_preserves_cluster_connectivity(spark, sf_dir):
    """The bucket cap changes WHICH candidate pairs are enumerated but
    must not change the connected components (star edges keep every
    bucket member reachable from its hub)."""
    from arangodb_java_parquet_spark.operators.curation import (
        connected_components)
    from arangodb_java_parquet_spark.operators.dedup import (
        char_shingles, lsh_candidate_pairs, lsh_candidate_pairs_capped,
        minhash_signatures)
    from arangodb_java_parquet_spark.queries.common import t

    d = t(spark, sf_dir, "documents")
    sigs = minhash_signatures(char_shingles(d))
    full = lsh_candidate_pairs(sigs)
    capped = lsh_candidate_pairs_capped(sigs, max_bucket=2)
    n_full, n_capped = full.count(), capped.count()
    assert n_capped <= n_full
    comp_full = sorted(
        tuple(r) for r in connected_components(full).collect())
    comp_capped = sorted(
        tuple(r) for r in connected_components(capped).collect())
    assert comp_capped == comp_full


def test_exactsubstr_spans_and_removal_algebra(spark):
    """ExactSubstr invariants on a hand-built corpus: (1) a shared
    k-window between two docs yields a span in both; (2) removal keeps
    exactly one canonical occurrence — removable windows per fingerprint
    = occurrences - 1; (3) island union never exceeds doc length and the
    canonical (first) document loses nothing."""
    from arangodb_java_parquet_spark.operators.dedup import (
        exact_substring_removal, exact_substring_spans,
        positional_window_fps)
    shared = "a b c d e"          # 5 tokens, k=3 -> 3 shared windows
    rows = [
        (1, f"x0 x1 {shared} y0 y1"),     # canonical (lowest doc_id)
        (2, f"z0 {shared} z1 z2 z3"),     # duplicate occurrence
        (3, "q0 q1 q2 q3 q4 q5"),         # clean doc
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    k = 3
    spans = {r["doc_id"]: (r["span_start"], r["span_end"])
             for r in exact_substring_spans(docs, k=k).collect()}
    # 'a b c d e' occupies positions 3..7 in doc1, 2..6 in doc2
    assert spans == {1: (3, 7), 2: (2, 6)}

    fps = positional_window_fps(docs, k=k)
    occ = (fps.groupBy("gh").count().filter(F.col("count") >= 2).collect())
    n_dup_occurrences = sum(r["count"] for r in occ)
    removal = {r["doc_id"]: r for r in
               exact_substring_removal(docs, k=k).collect()}
    # doc1 holds every canonical first occurrence -> unaffected
    assert 1 not in removal and 3 not in removal
    r2 = removal[2]
    # doc2's removable windows are positions 2..4 -> union 2..6 = 5 tokens
    assert (r2["n_tokens"], r2["tokens_removed"], r2["tokens_kept"]) == \
        (9, 5, 4)
    assert abs(r2["keep_ratio"] - 4 / 9) < 1e-12
    # exactly one canonical occurrence survives per duplicated fingerprint
    n_removable = (fps.withColumn(
        "rn", F.expr("row_number() over (partition by gh"
                     " order by doc_id, pos)"))
        .filter(F.col("rn") >= 2).count())
    assert n_removable == n_dup_occurrences - len(occ)


def test_exactsubstr_window_formulation_ignores_sub_k_duplicates(spark):
    """Documented divergence from Lee et al.'s suffix-array definition
    (operators/dedup.py exact_substring_spans docstring, VERDICT r10
    #5): a duplicated span SHORTER than k tokens contains no full
    k-window, so the window-fingerprint formulation reports nothing
    for it — conservative at the paper's operating threshold (its
    removal unit is exactly spans >= k=50 tokens). Construct both
    cases in one corpus: a (k-1)-token cross-document repeat must be
    invisible, while a k-token repeat in the same corpus is found."""
    from arangodb_java_parquet_spark.operators.dedup import (
        exact_substring_spans)
    k = 5
    sub = "s1 s2 s3 s4"          # k-1 = 4 tokens, repeated -> invisible
    full = "f1 f2 f3 f4 f5"      # exactly k tokens, repeated -> found
    rows = [
        (1, f"a0 {sub} a1 a2 a3 a4 a5"),
        (2, f"b0 b1 {sub} b2 b3 b4 b5"),
        (3, f"c0 {full} c1 c2"),
        (4, f"d0 d1 d2 {full} d3"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    spans = {(r["doc_id"], r["span_start"], r["span_end"])
             for r in exact_substring_spans(docs, k=k).collect()}
    # the sub-k repeat yields NO span in docs 1/2; the k-token repeat
    # yields exactly its own window in docs 3/4 (full at pos 2..6 in
    # doc3, pos 4..8 in doc4)
    assert spans == {(3, 2, 6), (4, 4, 8)}


def test_exactsubstr_apply_reconciles_with_removal(spark, sf_dir):
    """The APPLY step's cleaned corpus must reconcile EXACTLY with the
    removal accounting: tokens_kept matches per affected doc, unaffected
    docs pass through verbatim, and the cleaned text's own token count
    equals tokens_kept (no phantom separators)."""
    from arangodb_java_parquet_spark.operators.dedup import (
        exact_substring_apply, exact_substring_removal)
    from arangodb_java_parquet_spark.queries.common import t

    d = t(spark, sf_dir, "documents")
    k = 20
    applied = {r["doc_id"]: r for r in
               exact_substring_apply(d, k=k).collect()}
    removal = {r["doc_id"]: r for r in
               exact_substring_removal(d, k=k).collect()}
    texts = {r["doc_id"]: r["text"]
             for r in d.select("doc_id", "text").collect()}
    assert set(applied) == set(texts)          # one row per input doc
    assert removal                             # corpus has duplicates
    for doc_id, row in applied.items():
        n_tokens = len(texts[doc_id].split(" "))
        assert row["n_tokens"] == n_tokens
        if doc_id in removal:
            assert row["tokens_kept"] == removal[doc_id]["tokens_kept"]
            assert row["cleaned_text"] != texts[doc_id]
        else:
            assert row["tokens_kept"] == n_tokens
            assert row["cleaned_text"] == texts[doc_id]
        n_clean = (len(row["cleaned_text"].split(" "))
                   if row["cleaned_text"] else 0)
        assert n_clean == row["tokens_kept"]


def test_exactsubstr_apply_handbuilt(spark):
    """Hand-built corpus: the duplicate occurrence's island is cut, the
    canonical document is untouched, and the cleaned text is exactly the
    surviving tokens in order."""
    from arangodb_java_parquet_spark.operators.dedup import (
        exact_substring_apply)
    shared = "a b c d e"
    rows = [
        (1, f"x0 x1 {shared} y0 y1"),
        (2, f"z0 {shared} z1 z2 z3"),
        (3, "q0 q1 q2 q3 q4 q5"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           exact_substring_apply(docs, k=3).collect()}
    assert out[1]["cleaned_text"] == rows[0][1]
    # doc2 loses positions 2..6 ('a b c d e'), keeping 'z0 z1 z2 z3'
    assert out[2]["cleaned_text"] == "z0 z1 z2 z3"
    assert out[2]["tokens_kept"] == 4
    assert out[3]["cleaned_text"] == rows[2][1]


def test_winnowing_guarantee_and_density(spark):
    """Winnowing invariants (Schleimer et al. 2003): (1) any shared run
    of >= k + w - 1 tokens yields >= 1 shared fingerprint; (2) selected
    positions are valid gram positions; (3) fingerprint count is at most
    the window-start count and at least ceil(n_windows / w)."""
    import math

    from arangodb_java_parquet_spark.operators.dedup import (
        winnowing_fingerprints)
    k, w = 3, 4
    shared = " ".join(f"s{i}" for i in range(k + w - 1))  # 6 tokens
    rows = [
        (1, f"a0 a1 a2 a3 {shared} a4 a5"),
        (2, f"b0 {shared} b1 b2 b3 b4 b5 b6"),
        (3, "c0 c1 c2 c3 c4 c5 c6 c7 c8 c9"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnowing_fingerprints(docs, k=k, w=w).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
        n_tokens = len(rows[r["doc_id"] - 1][1].split(" "))
        assert 1 <= r["fp_pos"] <= n_tokens - k + 1
    # guarantee: docs 1 and 2 share a (k+w-1)-token run -> >= 1 shared fp
    assert by_doc[1] & by_doc[2]
    # clean doc shares nothing
    assert not (by_doc[3] & by_doc[1]) and not (by_doc[3] & by_doc[2])
    for doc_id, text in ((i, txt) for i, txt in rows):
        n_grams = len(text.split(" ")) - k + 1
        n_windows = n_grams - w + 1
        n_sel = sum(1 for r in fps if r["doc_id"] == doc_id)
        assert n_sel <= n_windows  # distinct selections, one per window
        assert n_sel >= math.ceil(n_windows / w)  # min covers <= w windows


def test_winnowing_position_encoding_bound_enforced(spark):
    """ADVICE r10: the rightmost-on-ties tie-break encodes pos as
    zero-padded (99999999 - pos), valid only for pos < 1e8. The
    operator enforces the bound with a defensive filter, so every
    emitted fp_pos decodes to a positive in-range position — checked
    here by verifying the filter exists in the plan lineage and that
    decode round-trips on a normal corpus (constructing an actual
    1e8-token document is infeasible in a unit test)."""
    from arangodb_java_parquet_spark.operators.dedup import (
        winnowing_fingerprints)
    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i % 7}" for i in range(40)))],
        "doc_id long, text string")
    out = winnowing_fingerprints(docs, k=3, w=4)
    # the defensive bound filter must be part of the logical plan
    assert "100000000" in out._jdf.queryExecution().analyzed().toString()
    for r in out.collect():
        assert 1 <= r["fp_pos"] < 10 ** 8
