"""Second wave of LLM-data-pipeline text operators: Gopher-style
repetition signals, CCNet-style normalization fingerprints, corpus-wide
paragraph-exact dedup with document reassembly, vocabulary/OOV coverage,
and a measured precision/recall harness for the LSH candidate stage.

Scale notes (100 TB): every operator here shuffles only compact derived
rows (token counts, paragraph hashes, fingerprints), never documents
next to exploded rows; the single global structure any of them build is
the top-K vocabulary (bounded by construction, K rows) which is the only
broadcast. Repetition/OOV are two-level aggregations with map-side
partials; paragraph dedup's first-occurrence window partitions by
paragraph HASH (unbounded distinct values -> no mega-partition: a hash
key's group is the duplicate set of ONE paragraph).
"""

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from arangodb_java_parquet_spark.materialize import materialize
from arangodb_java_parquet_spark.operators.dedup import (
    NUM_HASHES, SHINGLE_K, spread)
from arangodb_java_parquet_spark.queries.common import query, t
from arangodb_java_parquet_spark.queries.text_pipeline import (
    capped_pairs_cte_sql, lsh_bands_cte_sql, lsh_pairs_cte_sql,
    minhash_sig_cte_sql)

# ---------------------------------------------------------------------------
# Gopher-style repetition signals
# ---------------------------------------------------------------------------

_REP_SQL = """
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
tok AS (SELECT doc_id, UNNEST(tk) AS tok FROM tk),
tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2),
stats AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         COUNT(*) AS n_distinct,
         CAST(COALESCE(SUM(CASE WHEN c >= 2 THEN c END), 0) AS BIGINT)
           AS n_rep,
         MAX(c) AS max_c,
         CAST(SUM(LENGTH(tok) * c) AS BIGINT) AS n_chars_tok
  FROM tc GROUP BY 1),
top AS (
  SELECT tc.doc_id, MAX(tc.tok) AS top_tok
  FROM tc JOIN stats s ON tc.doc_id = s.doc_id AND tc.c = s.max_c
  GROUP BY 1),
bg AS (SELECT doc_id,
              UNNEST(list_transform(range(1, len(tk)),
                                    i -> tk[i] || ' ' || tk[i+1])) AS bg
       FROM tk),
bgc AS (SELECT doc_id, bg, COUNT(*) AS cb FROM bg GROUP BY 1, 2),
bstats AS (SELECT doc_id, MAX(cb) AS max_bc,
                  CAST(SUM(cb) AS BIGINT) AS n_bigrams
           FROM bgc GROUP BY 1)
SELECT s.doc_id, s.n_tokens, s.n_distinct,
       round(1 - s.n_distinct::DOUBLE / s.n_tokens, 9) AS dup_token_frac,
       round(s.n_rep::DOUBLE / s.n_tokens, 9) AS rep_token_frac,
       tp.top_tok,
       round(LENGTH(tp.top_tok) * s.max_c::DOUBLE / s.n_chars_tok, 9)
         AS top_token_char_frac,
       CAST(COALESCE(b.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       round(b.max_bc::DOUBLE / b.n_bigrams, 9) AS top_bigram_frac
FROM stats s
JOIN top tp ON tp.doc_id = s.doc_id
LEFT JOIN bstats b ON b.doc_id = s.doc_id
"""


@query("quality_repetition_signals", _REP_SQL)
def quality_repetition_signals(spark, sf_dir):
    """Gopher-style per-document repetition features (Rae et al. 2021 §A1.1
    "repetition signals"): duplicate-token fraction, fraction of tokens in
    repeated types, most-frequent-token character share, and top-bigram
    share. These are the filters that catch boilerplate / template / SEO
    spam pages that plain length+stopword heuristics miss.

    Shape at scale: two-level aggregation over (doc, token) counts — the
    shuffle moves one row per DISTINCT token per doc (already partially
    aggregated map-side), never the raw token stream. The "most frequent
    token" is resolved with an extra (doc_id) agg instead of a sort: max_c
    from the count table, then max(tok) among ties — no window over the
    token stream. Bigrams come from ONE indexed transform over the token
    array (no self-join on positions)."""
    d = t(spark, sf_dir, "documents")
    tkd = d.select("doc_id", F.split("text", " ").alias("tk"))
    tok = tkd.select("doc_id", F.explode("tk").alias("tok"))
    tc = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    stats = tc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.coalesce(F.sum(F.when(F.col("c") >= 2, F.col("c"))),
                   F.lit(0)).alias("n_rep"),
        F.max("c").alias("max_c"),
        F.sum(F.length("tok") * F.col("c")).alias("n_chars_tok"))
    top = (tc.join(stats.select("doc_id", "max_c"), "doc_id")
           .filter(F.col("c") == F.col("max_c"))
           .groupBy("doc_id").agg(F.max("tok").alias("top_tok")))
    bg = tkd.select(
        "doc_id",
        F.explode(F.expr(
            "transform(slice(tk, 1, size(tk) - 1),"
            " (x, i) -> concat(x, ' ', element_at(tk, i + 2)))")).alias("bg"))
    bgc = bg.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("cb"))
    bstats = bgc.groupBy("doc_id").agg(
        F.max("cb").alias("max_bc"), F.sum("cb").alias("n_bigrams"))
    return (stats.join(top, "doc_id").join(bstats, "doc_id", "left")
            .select(
                "doc_id", "n_tokens", "n_distinct",
                F.round(1 - F.col("n_distinct").cast("double")
                        / F.col("n_tokens"), 9).alias("dup_token_frac"),
                F.round(F.col("n_rep").cast("double")
                        / F.col("n_tokens"), 9).alias("rep_token_frac"),
                "top_tok",
                F.round(F.length("top_tok") * F.col("max_c").cast("double")
                        / F.col("n_chars_tok"), 9)
                .alias("top_token_char_frac"),
                F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
                F.round(F.col("max_bc").cast("double")
                        / F.col("n_bigrams"), 9).alias("top_bigram_frac")))


# ---------------------------------------------------------------------------
# CCNet-style normalization fingerprint dedup
# ---------------------------------------------------------------------------

_NORM_SQL = """
WITH n AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fingerprint
  FROM documents)
SELECT doc_id, fingerprint,
       CASE WHEN ROW_NUMBER() OVER (PARTITION BY fingerprint
                                    ORDER BY doc_id) = 1
            THEN 1 ELSE 0 END AS keep
FROM n
"""


@query("text_normalize_fingerprint", _NORM_SQL)
def text_normalize_fingerprint(spark, sf_dir):
    """CCNet-style normalized-text dedup key (Wenzek et al. 2020 §3.1:
    lowercase + strip non-alphanumerics + collapse whitespace before
    hashing) — catches near-identical pages that differ only in
    punctuation/casing, which exact-hash dedup misses. ``keep`` marks the
    lowest-doc_id canonical copy per fingerprint.

    Scale: the window partitions by the 128-bit fingerprint — each
    partition is one duplicate cluster (tiny); the shuffle moves (md5,
    doc_id) pairs only. Normalization itself is three codegen'd string
    expressions, no UDF."""
    d = t(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
        " +", " "))
    n = d.select("doc_id", F.md5(norm).alias("fingerprint"))
    rn = F.row_number().over(
        W.partitionBy("fingerprint").orderBy("doc_id"))
    return n.select(
        "doc_id", "fingerprint",
        F.when(rn == 1, F.lit(1)).otherwise(F.lit(0)).alias("keep"))


# ---------------------------------------------------------------------------
# paragraph-exact dedup with document reassembly (C4-style)
# ---------------------------------------------------------------------------

_PARA = 10  # tokens per "paragraph" (synthetic docs have no newlines)

_PARA_SQL = f"""
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
ch AS (
  SELECT doc_id, CAST((s - 1) / {_PARA} AS BIGINT) AS idx,
         array_to_string(tk[s : s + {_PARA - 1}], ' ') AS para
  FROM (SELECT doc_id, tk, UNNEST(range(1, len(tk) + 1, {_PARA})) AS s
        FROM tk)),
kept AS (
  SELECT doc_id, idx, para,
         ROW_NUMBER() OVER (PARTITION BY md5(para)
                            ORDER BY doc_id, idx) AS rn
  FROM ch)
SELECT doc_id, COUNT(*) AS n_paras_kept,
       md5(string_agg(para, ' ' ORDER BY idx)) AS doc_hash
FROM kept WHERE rn = 1 GROUP BY doc_id
"""


@query("dedup_paragraphs_reassemble", _PARA_SQL)
def dedup_paragraphs_reassemble(spark, sf_dir):
    """C4-style corpus-wide exact paragraph dedup (Raffel et al. 2020
    §2.1: "we discarded all but one of any three-sentence span occurring
    more than once") over fixed 10-token paragraphs, keeping the FIRST
    occurrence by (doc_id, position) and reassembling each surviving
    document (checked via its md5). Documents whose every paragraph was
    seen earlier vanish entirely — same as C4.

    Scale: first-occurrence is a window PARTITIONED BY PARAGRAPH HASH —
    each partition is the duplicate set of one paragraph, so there is no
    skewed mega-group by construction; reassembly groups by doc_id with a
    sorted collect bounded by document length. Paragraph text rides along
    only until the winner is chosen, after which only winners are
    regrouped."""
    d = t(spark, sf_dir, "documents")
    tkd = d.select("doc_id", F.split("text", " ").alias("tk"))
    ch = (tkd.select(
            "doc_id", "tk",
            F.explode(F.sequence(F.lit(1), F.size("tk"),
                                 F.lit(_PARA))).alias("s"))
          .select("doc_id",
                  ((F.col("s") - 1) / _PARA).cast("long").alias("idx"),
                  F.concat_ws(" ", F.slice(F.col("tk"), F.col("s"),
                                           _PARA)).alias("para")))
    rn = F.row_number().over(
        W.partitionBy(F.md5("para")).orderBy("doc_id", "idx"))
    kept = ch.withColumn("rn", rn).filter(F.col("rn") == 1)
    return (kept.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_paras_kept"),
                 F.md5(F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.struct("idx", "para"))),
                         lambda s: s["para"]), " ")).alias("doc_hash")))


# ---------------------------------------------------------------------------
# vocabulary coverage / OOV rate
# ---------------------------------------------------------------------------

_VOCAB_K = 100

_OOV_SQL = f"""
WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
             FROM documents),
vocab AS (
  SELECT tok FROM (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok)
  ORDER BY c DESC, tok LIMIT {_VOCAB_K})
SELECT t.doc_id, COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       round(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)::DOUBLE
             / COUNT(*), 9) AS oov_frac
FROM tok t LEFT JOIN vocab v ON t.tok = v.tok
GROUP BY t.doc_id
"""


@query("vocab_coverage_oov", _OOV_SQL)
def vocab_coverage_oov(spark, sf_dir):
    """Tokenizer-prep vocabulary coverage: build the corpus top-K
    vocabulary (count-desc, token-asc tiebreak — deterministic at the cut)
    and score every document's out-of-vocabulary token rate. The OOV rate
    is the standard proxy for how much a fixed vocab / tokenizer will
    fragment a corpus.

    Scale: the vocab is top-K via TakeOrdered over the (token, count)
    aggregate — never a global sort of the token stream — and is BOUNDED
    (K rows) so its broadcast is safe at any corpus size; the scoring pass
    is a broadcast-hash left join on the exploded stream with map-side
    partial counts."""
    d = t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    vocab = (tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
             .orderBy(F.desc("c"), "tok").limit(_VOCAB_K)
             .select("tok", F.lit(1).alias("__v")))
    oov = F.when(F.col("__v").isNull(), 1).otherwise(0)
    return (tok.join(F.broadcast(vocab), "tok", "left")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.sum(oov).alias("n_oov"),
                 F.round(F.sum(oov).cast("double")
                         / F.count(F.lit(1)), 9).alias("oov_frac")))


# ---------------------------------------------------------------------------
# LSH candidate-stage precision/recall vs exact Jaccard (bounded harness)
# ---------------------------------------------------------------------------

_PR_UNIVERSE = 200  # doc_id bound: keeps the exact all-pairs truth tractable
_PR_TAU = 0.5       # "true near-dup" = char-5-gram Jaccard >= tau

_PR_SQL = f"""
WITH shingles AS (
  SELECT DISTINCT doc_id, shingle
  FROM (SELECT doc_id,
               UNNEST(list_transform(range(1, greatest(length(text)-{SHINGLE_K - 1}, 1)+1),
                                     i -> text[i:i+{SHINGLE_K - 1}])) AS shingle
        FROM documents WHERE doc_id < {_PR_UNIVERSE})),
counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
truth AS (
  SELECT i.doc_a, i.doc_b
  FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2) i
  JOIN counts ca ON ca.doc_id = i.doc_a
  JOIN counts cb ON cb.doc_id = i.doc_b
  WHERE i.n_common::DOUBLE / (ca.n_sh + cb.n_sh - i.n_common) >= {_PR_TAU}),
{minhash_sig_cte_sql()}{lsh_pairs_cte_sql("cand")},
joined AS (
  SELECT COALESCE(t.doc_a, c.doc_a) AS doc_a,
         CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END AS is_truth,
         CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS is_cand
  FROM truth t
  FULL OUTER JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
SELECT CAST(SUM(is_truth) AS BIGINT) AS n_truth,
       CAST(SUM(is_cand) AS BIGINT) AS n_cand,
       CAST(SUM(is_truth * is_cand) AS BIGINT) AS n_tp,
       round(SUM(is_truth * is_cand)::DOUBLE / NULLIF(SUM(is_cand), 0), 9)
         AS precision,
       round(SUM(is_truth * is_cand)::DOUBLE / NULLIF(SUM(is_truth), 0), 9)
         AS recall
FROM joined
"""


@query("dedup_lsh_precision_recall", _PR_SQL)
def dedup_lsh_precision_recall(spark, sf_dir):
    """Measured quality of the MinHash-LSH candidate stage against exact
    char-5-gram Jaccard ground truth on a bounded universe (doc_id < 200)
    — "measure, don't guess" for the banding parameters (2 bands x 4
    rows): one row of corpus-level precision/recall at tau=0.5. This is
    the harness you re-run whenever bands/rows/shingle-k change.

    Scale: ground truth is exact all-pairs and therefore INTENTIONALLY
    bounded (the point is calibrating LSH parameters on a sample, then
    trusting LSH corpus-wide); the candidate side reuses the production
    signature/banding operators unchanged. The DISTINCT shingle table is
    materialized once (localCheckpoint, r8 VERDICT item 4) and feeds both
    the Jaccard ground truth and the MinHash signatures — MIN over a set
    equals MIN over the multiset, so sharing the deduped table changes no
    value while halving the shingle derivation."""
    from arangodb_java_parquet_spark.operators.dedup import (
        char_shingles, jaccard_pairs, lsh_candidate_pairs,
        minhash_signatures)
    d = (t(spark, sf_dir, "documents")
         .filter(F.col("doc_id") < _PR_UNIVERSE))
    sh = (char_shingles(d, distinct=True)
          .transform(materialize))
    truth = (jaccard_pairs(sh.select("doc_id", "shingle"), "doc_id",
                           threshold=_PR_TAU)
             .select("doc_a", "doc_b"))
    sigs = minhash_signatures(sh)
    cand = lsh_candidate_pairs(sigs).select("doc_a", "doc_b")
    joined = (truth.withColumn("is_truth", F.lit(1))
              .join(cand.withColumn("is_cand", F.lit(1)),
                    ["doc_a", "doc_b"], "full_outer")
              .select(F.coalesce("is_truth", F.lit(0)).alias("is_truth"),
                      F.coalesce("is_cand", F.lit(0)).alias("is_cand")))
    tp = F.sum(F.col("is_truth") * F.col("is_cand"))
    return joined.agg(
        F.sum("is_truth").alias("n_truth"),
        F.sum("is_cand").alias("n_cand"),
        tp.alias("n_tp"),
        F.round(tp.cast("double")
                / F.nullif(F.sum("is_cand"), F.lit(0)), 9).alias("precision"),
        F.round(tp.cast("double")
                / F.nullif(F.sum("is_truth"), F.lit(0)), 9).alias("recall"))


# ---------------------------------------------------------------------------
# ensemble dedup: vote across detector families
# ---------------------------------------------------------------------------

from arangodb_java_parquet_spark.queries.text_pipeline import (  # noqa: E402
    _MINHASH_SIG_SQL, _SIMHASH_SQL)

_ENSEMBLE_SQL = _MINHASH_SIG_SQL + lsh_pairs_cte_sql("minhash_pairs") + f""",
ssigs AS ({_SIMHASH_SQL}),
simhash_pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM ssigs a JOIN ssigs b
    ON a.simhash = b.simhash AND a.doc_id < b.doc_id
),
fps AS (SELECT doc_id, md5(lower(replace(text, ' ', ''))) AS fp
        FROM documents),
exact_pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
),
votes AS (
  SELECT doc_a, doc_b, 'minhash' AS detector FROM minhash_pairs
  UNION ALL SELECT doc_a, doc_b, 'simhash' FROM simhash_pairs
  UNION ALL SELECT doc_a, doc_b, 'exact' FROM exact_pairs
)
SELECT doc_a, doc_b, COUNT(*) AS n_votes,
       array_to_string(list_sort(list(detector)), ',') AS detectors
FROM votes
GROUP BY doc_a, doc_b
"""


@query("dedup_ensemble_votes", _ENSEMBLE_SQL)
def dedup_ensemble_votes(spark, sf_dir):
    """ENSEMBLE dedup: the three detector families (exact fingerprint,
    MinHash-LSH, SimHash) vote per candidate pair — high-vote pairs go
    straight to removal, single-vote pairs to the exact verify stage; the
    standard production posture because each family has a blind spot
    (exact misses edits, MinHash misses short docs, SimHash misses
    reorderings). Each detector is the already-verified operator; the
    vote table is one union + combinable count, shuffling (pair, label)
    rows only."""
    from arangodb_java_parquet_spark.operators.dedup import (
        char_shingles, lsh_candidate_pairs, minhash_signatures,
        simhash_signatures)
    d = t(spark, sf_dir, "documents")
    mh = lsh_candidate_pairs(minhash_signatures(char_shingles(d))) \
        .select("doc_a", "doc_b", F.lit("minhash").alias("detector"))
    # the simhash lineage (spread + token explode + 16 vote aggregates)
    # is consumed by BOTH sides of the fingerprint self-join and never
    # canonicalizes to a ReusedExchange — materialize it once (r15)
    ss = simhash_signatures(d, "text", "doc_id", n_bits=16) \
        .transform(materialize)
    a = ss.alias("a")
    b = ss.withColumnRenamed("doc_id", "doc_id_b").alias("b")
    sh = (a.join(b, (F.col("a.simhash") == F.col("b.simhash"))
                 & (F.col("a.doc_id") < F.col("b.doc_id_b")))
          .select(F.col("a.doc_id").alias("doc_a"),
                  F.col("doc_id_b").alias("doc_b"),
                  F.lit("simhash").alias("detector")))
    fp = F.md5(F.lower(F.replace(F.col("text"), F.lit(" "), F.lit(""))))
    fps = d.select("doc_id", fp.alias("fp"))
    fa = fps.alias("fa")
    fb = fps.withColumnRenamed("doc_id", "doc_id_b").alias("fb")
    ex = (fa.join(fb, (F.col("fa.fp") == F.col("fb.fp"))
                  & (F.col("fa.doc_id") < F.col("doc_id_b")))
          .select(F.col("fa.doc_id").alias("doc_a"),
                  F.col("doc_id_b").alias("doc_b"),
                  F.lit("exact").alias("detector")))
    votes = mh.unionAll(sh).unionAll(ex)
    return (votes.groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_votes"),
                 F.array_join(F.array_sort(F.collect_list("detector")), ",")
                 .alias("detectors")))


@query("lang_id_confusion_matrix", """
WITH scored AS (
  SELECT lang,
         (LENGTH(text) - LENGTH(REPLACE(text, ' the ', ''))) / 5 AS en_score,
         (LENGTH(text) - LENGTH(REPLACE(text, ' und ', ''))) / 5 AS de_score,
         (LENGTH(text) - LENGTH(REPLACE(text, ' et ', ''))) / 4 AS fr_score,
         (LENGTH(text) - LENGTH(REPLACE(text, ' el ', ''))) / 4 AS es_score
  FROM documents
),
pred AS (
  SELECT lang,
         CASE WHEN en_score >= GREATEST(de_score, fr_score, es_score) THEN 'en'
              WHEN de_score >= GREATEST(fr_score, es_score) THEN 'de'
              WHEN fr_score >= es_score THEN 'fr'
              ELSE 'es' END AS lang_pred
  FROM scored
)
SELECT lang AS label, lang_pred, COUNT(*) AS n
FROM pred
GROUP BY 1, 2
""")
def lang_id_confusion_matrix(spark, sf_dir):
    """Classifier-evaluation-in-the-engine: the confusion matrix of the
    stopword language-ID heuristic against the labeled lang column — one
    combinable (label, prediction) count after the same pure-expression
    scoring text_lang_id verifies per-document. The |langs|² output is
    the standard model-quality artifact a curation pipeline logs per
    snapshot."""
    d = t(spark, sf_dir, "documents")

    def occ(token, width):
        return ((F.length("text")
                 - F.length(F.replace(F.col("text"), F.lit(token),
                                      F.lit("")))) / width)

    scored = d.select(
        "lang",
        occ(" the ", 5).alias("en_f"), occ(" und ", 5).alias("de_f"),
        occ(" et ", 4).alias("fr_f"), occ(" el ", 4).alias("es_f"))
    pred = (F.when(F.col("en_f") >= F.greatest("de_f", "fr_f", "es_f"),
                   "en")
            .when(F.col("de_f") >= F.greatest("fr_f", "es_f"), "de")
            .when(F.col("fr_f") >= F.col("es_f"), "fr")
            .otherwise("es"))
    return (scored.select(F.col("lang").alias("label"),
                          pred.alias("lang_pred"))
            .groupBy("label", "lang_pred")
            .agg(F.count(F.lit(1)).alias("n")))


@query("boilerplate_ngram_catalog", """
WITH grams AS (
  SELECT doc_id,
         UNNEST(list_transform(range(1, greatest(len(string_split(text,' '))-4, 1)+1),
                               i -> array_to_string((string_split(text,' '))[i:i+4], ' ')))
           AS gram
  FROM documents
),
stats AS (
  SELECT gram, COUNT(*) AS n_occurrences,
         COUNT(DISTINCT doc_id) AS n_docs
  FROM grams GROUP BY gram
),
nd AS (SELECT COUNT(*) AS total_docs FROM documents)
SELECT gram, n_occurrences, n_docs,
       ROUND(n_docs / CAST(total_docs AS DOUBLE), 9) AS doc_share
FROM stats CROSS JOIN nd
WHERE n_docs >= 3
""")
def boilerplate_ngram_catalog(spark, sf_dir):
    """Corpus-level BOILERPLATE catalog: word-5-grams appearing in a
    large share of documents (headers, footers, disclaimers at web
    scale) — the removal list that line-level dedup consumes. Two
    combinable aggregations over the gram explode; the threshold bounds
    the output to the repeated templates regardless of corpus size."""
    d = t(spark, sf_dir, "documents")
    grams = F.expr(
        "transform(sequence(1, greatest(size(split(text, ' ')) - 4, 1)),"
        " i -> array_join(slice(split(text, ' '), i, 5), ' '))")
    g = spread(d).select("doc_id", F.explode(grams).alias("gram"))  # r15
    stats = g.groupBy("gram").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"))
    # corpus size as a LAZY broadcast scalar (was an eager d.count()
    # job at construction time — r15)
    total = d.agg(F.count(F.lit(1)).alias("__n"))
    return (stats.filter(F.col("n_docs") >= 3)
            .crossJoin(F.broadcast(total))
            .select("gram", "n_occurrences", "n_docs",
                    F.round(F.col("n_docs") / F.col("__n").cast("double"),
                            9).alias("doc_share")))


@query("dedup_prefix_fingerprint", """
WITH pf AS (
  SELECT doc_id,
         md5(array_to_string((string_split(text, ' '))[1:8], ' ')) AS prefix_fp
  FROM documents
)
SELECT prefix_fp, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id,
       array_to_string(list_transform(list_sort(list(doc_id))[1:5],
                                      x -> CAST(x AS VARCHAR)), ',')
         AS member_sample
FROM pf
GROUP BY prefix_fp
HAVING COUNT(*) > 1
""")
def dedup_prefix_fingerprint(spark, sf_dir):
    """PREFIX-fingerprint dedup: hash only the first 8 tokens — catches
    same-lead near-duplicates (syndicated articles with appended
    boilerplate, retries with trailing noise) that whole-document
    fingerprints miss and full MinHash over-pays for. One combinable
    group on an 8-token hash; member lists capped by a sorted slice and
    emitted comma-joined (driver canonicalizer cannot hash arrays)."""
    d = t(spark, sf_dir, "documents")
    pf = F.md5(F.array_join(
        F.slice(F.split(F.col("text"), " "), 1, 8), " "))
    return (d.groupBy(pf.alias("prefix_fp"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("doc_id").alias("keep_id"),
                 F.array_join(
                     F.slice(F.sort_array(F.collect_list("doc_id")), 1, 5)
                     .cast("array<string>"), ",")
                 .alias("member_sample"))
            .filter(F.col("n_docs") > 1))


@query("text_novelty_rate", """
WITH grams AS (
  SELECT doc_id,
         UNNEST(list_transform(range(1, greatest(len(string_split(text,' '))-4, 1)+1),
                               i -> array_to_string((string_split(text,' '))[i:i+4], ' ')))
           AS gram
  FROM documents
),
gcount AS (
  SELECT gram, COUNT(DISTINCT doc_id) AS n_docs FROM grams GROUP BY gram
)
SELECT g.doc_id,
       COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN c.n_docs = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       ROUND(SUM(CASE WHEN c.n_docs = 1 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 9) AS novelty_rate
FROM grams g JOIN gcount c USING (gram)
GROUP BY g.doc_id
""")
def text_novelty_rate(spark, sf_dir):
    """Per-document NOVELTY rate: the share of a document's word-5-grams
    that appear in NO other document — the inverse of the boilerplate
    catalog and the positive quality signal dedup pipelines optimize for
    (a corpus should retain high-novelty documents first). Two combinable
    aggregations over the gram explode; the gram-frequency table joins
    back keyed on gram — shuffles move (gram-hash, count) pairs. At
    100 TB, hash the grams to fixed-width md5 first so the join key is
    compact. The explode base feeds BOTH the frequency agg and the
    join-back — lambda-HOF subtrees never canonicalize to a
    ReusedExchange, so materialize it once (localCheckpoint, VERDICT
    r12 #4) instead of running the transform+explode lineage twice."""
    d = t(spark, sf_dir, "documents")
    grams_expr = F.expr(
        "transform(sequence(1, greatest(size(split(text, ' ')) - 4, 1)),"
        " i -> array_join(slice(split(text, ' '), i, 5), ' '))")
    g = (spread(d)  # r15: one-task scan-stage explode
         .select("doc_id", F.explode(grams_expr).alias("gram"))
         .transform(materialize))
    gcount = g.groupBy("gram").agg(
        F.countDistinct("doc_id").alias("n_docs"))
    novel = F.sum(F.when(F.col("n_docs") == 1, 1).otherwise(0))
    return (g.join(gcount, "gram")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_grams"),
                 novel.alias("n_novel"),
                 F.round(novel / F.count(F.lit(1)).cast("double"), 9)
                 .alias("novelty_rate")))


_LSH_CAP = 4

_LSH_CAPPED_SQL = (_MINHASH_SIG_SQL + capped_pairs_cte_sql(_LSH_CAP, "pairs")
                   + "\nSELECT doc_a, doc_b FROM pairs\n")


@query("dedup_lsh_capped_pairs", _LSH_CAPPED_SQL)
def dedup_lsh_capped_pairs(spark, sf_dir):
    """SKEW-HARDENED LSH candidate pairs
    (operators/dedup.py:lsh_candidate_pairs_capped): per-bucket pair
    enumeration is capped at _LSH_CAP = 4 members (all-pairs within the cap,
    star edges to the bucket min beyond it) so a duplicate-heavy
    corpus's K-clique buckets cost O(k) instead of O(k²) — the defense
    the r5 scale probe showed AQE alone doesn't give (1.35 time
    exponent on the replica corpus). Per-bucket connectivity is fully
    preserved, so cluster-dedup downstream is unchanged
    (tests/test_curation.py pins CC equality with the uncapped join);
    the tuning cap here is deliberately small so the sf-corpus's
    17-member bucket exercises BOTH edge kinds."""
    from arangodb_java_parquet_spark.operators.dedup import (
        char_shingles, lsh_candidate_pairs_capped, minhash_signatures)
    d = t(spark, sf_dir, "documents")
    sigs = minhash_signatures(char_shingles(d))
    return lsh_candidate_pairs_capped(sigs, max_bucket=_LSH_CAP)


_LSH_TUNING_SQL = _MINHASH_SIG_SQL + "".join(
    f"\n, {lsh_bands_cte_sql(rows, f'b{NUM_HASHES // rows}')}"
    for rows in (8, 4, 2)) + """,
p1 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       FROM b1 a JOIN b1 b ON a.band_idx = b.band_idx
        AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
p2 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       FROM b2 a JOIN b2 b ON a.band_idx = b.band_idx
        AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
p4 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       FROM b4 a JOIN b4 b ON a.band_idx = b.band_idx
        AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id)
SELECT '1x8' AS config, (SELECT COUNT(*) FROM p1) AS n_candidate_pairs
UNION ALL
SELECT '2x4', (SELECT COUNT(*) FROM p2)
UNION ALL
SELECT '4x2', (SELECT COUNT(*) FROM p4)
"""


@query("dedup_lsh_tuning_curve", _LSH_TUNING_SQL)
def dedup_lsh_tuning_curve(spark, sf_dir):
    """LSH banding TUNING CURVE: candidate-pair volume at three
    bands×rows settings (1×8, 2×4, 4×2) from the SAME signatures — the
    empirical face of the s-curve trade (more bands = collision
    probability s^rows per band = higher recall AND higher candidate
    cost). This is the query an operator runs before choosing the
    production setting; the repo's default 2×4 sits between the
    extremes. One signature pass, three cheap band joins."""
    from arangodb_java_parquet_spark.operators.dedup import (
        char_shingles, lsh_candidate_pairs, minhash_signatures)
    d = t(spark, sf_dir, "documents")
    # materialize the signatures ONCE: the minhash lineage contains
    # lambda-HOF subtrees that don't canonicalize, so without the (lazy)
    # checkpoint each of the 3 settings' self-joins re-derives it — six
    # shingle+minhash passes where one suffices (r5 VERDICT #4)
    sigs = minhash_signatures(char_shingles(d)).transform(materialize)
    rows = None
    for label, band_rows in (("1x8", 8), ("2x4", 4), ("4x2", 2)):
        pairs = lsh_candidate_pairs(sigs, band_rows=band_rows)
        one = pairs.agg(F.count(F.lit(1)).alias("n_candidate_pairs")) \
            .select(F.lit(label).alias("config"), "n_candidate_pairs")
        rows = one if rows is None else rows.unionAll(one)
    return rows


@query("dedup_minhash_merge_proof", _MINHASH_SIG_SQL + """
SELECT doc_id, h0, h1, h2, h3, h4, h5, h6, h7 FROM sigs
""")
def dedup_minhash_merge_proof(spark, sf_dir):
    """MERGEABILITY proof for MinHash: signatures computed on two
    disjoint HALVES of each document's shingle stream (split by shingle
    position parity) and merged with element-wise MIN are byte-identical
    to single-pass signatures — the property that lets sketches build
    incrementally per ingest batch and re-merge at read (the MinHash
    analog of rollup_cascade_daily's decimal partials and the HLL merge
    entry). The oracle is simply the single-pass signature SQL.

    The positional shingle explode + md5s run in the scan stage (one
    task per row group) — spread the compact documents first, exactly as
    char_shingles does internally (r15: 4.6 s -> ~2 s; a one-pass
    16-conditional-min formulation was tried and measured SLOWER than
    the two filtered passes — 24M conditional min updates vs 12M)."""
    from arangodb_java_parquet_spark.operators.dedup import (
        minhash_signatures, spread)
    d = spread(t(spark, sf_dir, "documents"))
    shingle_list = F.expr(
        f"transform(sequence(1, greatest(length(text)-{SHINGLE_K - 1}, 1)),"
        f" i -> struct(i AS pos, substring(text, i, {SHINGLE_K}) AS shingle))")
    sh = d.select("doc_id", F.explode(shingle_list).alias("s")) \
        .select("doc_id", F.col("s.pos").alias("pos"),
                F.col("s.shingle").alias("shingle"))
    half_a = minhash_signatures(
        sh.filter(F.col("pos") % 2 == 0).select("doc_id", "shingle"))
    half_b = minhash_signatures(
        sh.filter(F.col("pos") % 2 == 1).select("doc_id", "shingle"))
    hb = half_b.select([F.col("doc_id").alias("doc_id_b")]
                       + [F.col(f"h{j}").alias(f"b{j}") for j in range(8)])
    merged = half_a.join(
        hb, F.col("doc_id") == F.col("doc_id_b"), "full_outer")
    return merged.select(
        F.coalesce("doc_id", "doc_id_b").alias("doc_id"),
        # least() skips NULLs, so a doc whose shingles all landed in one
        # half still gets its signature from that half alone
        *[F.least(F.col(f"h{j}"), F.col(f"b{j}")).alias(f"h{j}")
          for j in range(8)])


@query("text_hapax_ratio", """
WITH tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf
  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
        FROM documents)
  GROUP BY 1, 2
)
SELECT doc_id,
       CAST(SUM(tf) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       ROUND(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END)
             / CAST(SUM(tf) AS DOUBLE), 9) AS hapax_ratio
FROM tf
GROUP BY doc_id
""")
def text_hapax_ratio(spark, sf_dir):
    """Hapax-legomena ratio per document (share of tokens used exactly
    once) — the lexical-richness complement to entropy: templated text
    repeats (low hapax), natural prose keeps introducing words (high).
    Two combinable aggregations keyed by doc; pure per-document
    map-reduce."""
    d = t(spark, sf_dir, "documents")
    tf = (d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
          .groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf")))
    hapax = F.sum(F.when(F.col("tf") == 1, 1).otherwise(0))
    return (tf.groupBy("doc_id")
            .agg(F.sum("tf").alias("n_tokens"),
                 hapax.alias("n_hapax"),
                 F.round(hapax / F.sum("tf").cast("double"), 9)
                 .alias("hapax_ratio")))


@query("lang_purity_by_source", """
WITH scored AS (
  SELECT source, lang,
         (LENGTH(text) - LENGTH(REPLACE(text, ' the ', ''))) / 5 AS en_score,
         (LENGTH(text) - LENGTH(REPLACE(text, ' und ', ''))) / 5 AS de_score,
         (LENGTH(text) - LENGTH(REPLACE(text, ' et ', ''))) / 4 AS fr_score,
         (LENGTH(text) - LENGTH(REPLACE(text, ' el ', ''))) / 4 AS es_score
  FROM documents
),
pred AS (
  SELECT source, lang,
         CASE WHEN en_score >= GREATEST(de_score, fr_score, es_score) THEN 'en'
              WHEN de_score >= GREATEST(fr_score, es_score) THEN 'de'
              WHEN fr_score >= es_score THEN 'fr'
              ELSE 'es' END AS lang_pred
  FROM scored
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN lang = lang_pred THEN 1 ELSE 0 END)
            AS BIGINT) AS n_agree,
       ROUND(SUM(CASE WHEN lang = lang_pred THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 9) AS purity
FROM pred GROUP BY source
""")
def lang_purity_by_source(spark, sf_dir):
    """Language PURITY per source: agreement rate between the lang label
    and the stopword classifier, by feed — low purity flags mislabeled
    or code-mixed sources before they poison a monolingual training mix.
    The per-source rollup of the verified confusion matrix."""
    d = t(spark, sf_dir, "documents")

    def occ(token, width):
        return ((F.length("text")
                 - F.length(F.replace(F.col("text"), F.lit(token),
                                      F.lit("")))) / width)

    scored = d.select(
        "source", "lang",
        occ(" the ", 5).alias("en_f"), occ(" und ", 5).alias("de_f"),
        occ(" et ", 4).alias("fr_f"), occ(" el ", 4).alias("es_f"))
    pred = (F.when(F.col("en_f") >= F.greatest("de_f", "fr_f", "es_f"),
                   "en")
            .when(F.col("de_f") >= F.greatest("fr_f", "es_f"), "de")
            .when(F.col("fr_f") >= F.col("es_f"), "fr")
            .otherwise("es"))
    agree = F.sum(F.when(F.col("lang") == F.col("lang_pred"), 1)
                  .otherwise(0))
    return (scored.withColumn("lang_pred", pred)
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 agree.alias("n_agree"),
                 F.round(agree / F.count(F.lit(1)).cast("double"), 9)
                 .alias("purity")))


@query("token_length_histogram", """
SELECT len(tok) AS token_len, COUNT(*) AS n_tokens,
       COUNT(DISTINCT tok) AS n_types
FROM (SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents)
GROUP BY 1
""")
def token_length_histogram(spark, sf_dir):
    """Token-length histogram with type counts per length — the
    tokenizer sanity profile (a spike at extreme lengths means
    unsplittable garbage; types-vs-tokens per length shows where the
    vocabulary lives). One combinable aggregation over the explode."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("tok"))
    return (toks.groupBy(F.length("tok").alias("token_len"))
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.countDistinct("tok").alias("n_types")))


@query("doc_length_by_lang_profile", """
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       ROUND(quantile_cont(n_chars, 0.5), 9) AS median_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars,
       CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
FROM documents
GROUP BY lang
""")
def doc_length_by_lang_profile(spark, sf_dir):
    """Length profile per language — the normalization input for
    language-fair quality thresholds (a 15-token floor means different
    things in different languages' length distributions). One combinable
    aggregation plus an exact median per group."""
    d = t(spark, sf_dir, "documents")
    return (d.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("n_chars").alias("min_chars"),
                 F.round(F.expr("percentile(n_chars, 0.5)"), 9)
                 .alias("median_chars"),
                 F.max("n_chars").alias("max_chars"),
                 F.sum(F.col("n_chars").cast("bigint"))
                 .alias("total_chars")))


_INC_MH_SPLIT = 400


def _inc_minhash_sql() -> str:
    # corpus/band CTEs parameterized over the same minhash prelude
    return _MINHASH_SIG_SQL + f"""
, {lsh_bands_cte_sql()},
corpus AS (SELECT doc_id, band_idx, band_hash FROM bands
           WHERE doc_id < {_INC_MH_SPLIT}),
batch AS (SELECT doc_id, band_idx, band_hash FROM bands
          WHERE doc_id >= {_INC_MH_SPLIT})
SELECT DISTINCT b.doc_id AS batch_doc, c.doc_id AS corpus_doc
FROM batch b JOIN corpus c
  ON c.band_idx = b.band_idx AND c.band_hash = b.band_hash
"""


@query("dedup_incremental_minhash_stored", _inc_minhash_sql())
def dedup_incremental_minhash_stored(spark, sf_dir):
    """INCREMENTAL NEAR-dup at ingest against a PERSISTENT band store —
    the production MinHash workflow (the near-dup sibling of
    dedup_incremental_batch's exact fingerprints): the corpus's LSH band
    table is fit ONCE into the model store (operators/models.py,
    store keyed by source identity) and each new batch only computes its
    own signatures and equi-joins the stored index — the nightly crawl
    never re-shingles the corpus. Value-checked end to end: the oracle
    recomputes both sides from scratch, so a hash match proves the
    stored index is byte-faithful to the fresh derivation. At 100 TB
    the band store is (doc_id, band, md5) — a fraction of corpus
    bytes — and appending the batch's own bands back (one write) makes
    tomorrow's index current."""
    from arangodb_java_parquet_spark.operators.dedup import (
        char_shingles, lsh_bands, minhash_signatures)
    from arangodb_java_parquet_spark.operators.models import (
        ensure_model, store_root_for)
    d = t(spark, sf_dir, "documents")

    def fit():
        corpus = d.filter(F.col("doc_id") < _INC_MH_SPLIT)
        return lsh_bands(minhash_signatures(char_shingles(corpus)))

    store = ensure_model(spark, store_root_for(sf_dir, "documents"),
                         "minhash_band_index", "lsh_bands", fit)
    batch = d.filter(F.col("doc_id") >= _INC_MH_SPLIT)
    bb = lsh_bands(minhash_signatures(char_shingles(batch)))
    return (bb.select(F.col("doc_id").alias("batch_doc"),
                      "band_idx", "band_hash")
            .join(store.select(F.col("doc_id").alias("corpus_doc"),
                               "band_idx", "band_hash"),
                  ["band_idx", "band_hash"])
            .select("batch_doc", "corpus_doc").distinct())


_LANGID_PRED_CTE = """
scored AS (
  SELECT lang,
         (LENGTH(text) - LENGTH(REPLACE(text, ' the ', ''))) / 5 AS en_score,
         (LENGTH(text) - LENGTH(REPLACE(text, ' und ', ''))) / 5 AS de_score,
         (LENGTH(text) - LENGTH(REPLACE(text, ' et ', ''))) / 4 AS fr_score,
         (LENGTH(text) - LENGTH(REPLACE(text, ' el ', ''))) / 4 AS es_score
  FROM documents
),
pred AS (
  SELECT lang,
         CASE WHEN en_score >= GREATEST(de_score, fr_score, es_score) THEN 'en'
              WHEN de_score >= GREATEST(fr_score, es_score) THEN 'de'
              WHEN fr_score >= es_score THEN 'fr'
              ELSE 'es' END AS lang_pred
  FROM scored
)"""


@query("langid_cohens_kappa", f"""
WITH {_LANGID_PRED_CTE},
cells AS (
  SELECT lang, lang_pred, COUNT(*) AS n FROM pred GROUP BY 1, 2
),
tots AS (
  SELECT CAST(SUM(n) AS DOUBLE) AS total,
         CAST(SUM(CASE WHEN lang = lang_pred THEN n ELSE 0 END)
              AS DOUBLE) AS agree
  FROM cells
),
marg AS (
  SELECT r.lab,
         CAST(COALESCE(rm.rn, 0) AS DOUBLE) AS row_n,
         CAST(COALESCE(cm.cn, 0) AS DOUBLE) AS col_n
  FROM (SELECT lang AS lab FROM cells
        UNION SELECT lang_pred FROM cells) r
  LEFT JOIN (SELECT lang AS lab, SUM(n) AS rn FROM cells GROUP BY 1) rm
    ON rm.lab = r.lab
  LEFT JOIN (SELECT lang_pred AS lab, SUM(n) AS cn FROM cells
             GROUP BY 1) cm ON cm.lab = r.lab
),
pe AS (
  SELECT CAST(SUM(CAST(ROUND(row_n * col_n, 1) AS DECIMAL(30,1)))
              AS DOUBLE) AS chance_num
  FROM marg
)
SELECT CAST(t.total AS BIGINT) AS n_docs,
       ROUND(t.agree / t.total, 9) AS observed_agreement,
       ROUND(p.chance_num / (t.total * t.total), 9) AS chance_agreement,
       ROUND((t.agree / t.total - p.chance_num / (t.total * t.total))
             / (1.0 - p.chance_num / (t.total * t.total)), 9)
         AS cohens_kappa
FROM tots t CROSS JOIN pe p
""")
def langid_cohens_kappa(spark, sf_dir):
    """COHEN'S KAPPA between the language labels and the stopword
    classifier — chance-corrected agreement, the honest upgrade of
    lang_purity_by_source's raw rate (a classifier that always says
    'en' on an 80%-English corpus gets 0.8 agreement but kappa ~0).
    po and pe from exact confusion-cell counts (marginal products are
    exact integers, round-1 fenced into a decimal sum); the kappa
    ratio is round-9. Full-grid marginals include labels either side
    never predicts (COALESCE 0), so degenerate classifiers score
    correctly."""
    from arangodb_java_parquet_spark.queries.common import QUERIES
    d = t(spark, sf_dir, "documents")

    def occ(token, width):
        return ((F.length("text")
                 - F.length(F.replace(F.col("text"), F.lit(token),
                                      F.lit("")))) / width)

    scored = d.select(
        "lang",
        occ(" the ", 5).alias("en_f"), occ(" und ", 5).alias("de_f"),
        occ(" et ", 4).alias("fr_f"), occ(" el ", 4).alias("es_f"))
    pred_col = (F.when(F.col("en_f") >= F.greatest("de_f", "fr_f", "es_f"),
                       "en")
                .when(F.col("de_f") >= F.greatest("fr_f", "es_f"), "de")
                .when(F.col("fr_f") >= F.col("es_f"), "fr")
                .otherwise("es"))
    cells = (scored.select("lang", pred_col.alias("lang_pred"))
             .groupBy("lang", "lang_pred")
             .agg(F.count(F.lit(1)).alias("n"))
             .transform(materialize))
    tots = cells.agg(
        F.sum("n").cast("double").alias("total"),
        F.sum(F.when(F.col("lang") == F.col("lang_pred"), F.col("n"))
              .otherwise(0)).cast("double").alias("agree"))
    labs = (cells.select(F.col("lang").alias("lab"))
            .union(cells.select("lang_pred")).distinct())
    rm = cells.groupBy(F.col("lang").alias("lab")) \
        .agg(F.sum("n").alias("rn"))
    cm = cells.groupBy(F.col("lang_pred").alias("lab")) \
        .agg(F.sum("n").alias("cn"))
    marg = (labs.join(rm, "lab", "left").join(cm, "lab", "left")
            .select(F.coalesce(F.col("rn"), F.lit(0)).cast("double")
                    .alias("row_n"),
                    F.coalesce(F.col("cn"), F.lit(0)).cast("double")
                    .alias("col_n")))
    pe = marg.agg(F.sum(F.round(F.col("row_n") * F.col("col_n"), 1)
                        .cast("decimal(30,1)")).cast("double")
                  .alias("chance_num"))
    po = F.col("agree") / F.col("total")
    pc = F.col("chance_num") / (F.col("total") * F.col("total"))
    return (tots.crossJoin(F.broadcast(pe))
            .select(F.col("total").cast("bigint").alias("n_docs"),
                    F.round(po, 9).alias("observed_agreement"),
                    F.round(pc, 9).alias("chance_agreement"),
                    F.round((po - pc) / (1.0 - pc), 9)
                    .alias("cohens_kappa")))


_BOUNDARY_K = 12  # tuned so the sf corpus exercises the join (real pipelines use 64+)


@query("dedup_boundary_overlap", f"""
WITH ends AS (
  SELECT doc_id,
         md5(substring(text, 1, {_BOUNDARY_K})) AS prefix_h,
         md5(substring(text, greatest(length(text) - {_BOUNDARY_K} + 1, 1),
                       {_BOUNDARY_K})) AS suffix_h,
         length(text) AS n
  FROM documents WHERE length(text) >= {_BOUNDARY_K}
)
SELECT a.doc_id AS doc_head, b.doc_id AS doc_tail,
       CAST(a.n AS BIGINT) AS head_len, CAST(b.n AS BIGINT) AS tail_len
FROM ends a JOIN ends b
  ON a.suffix_h = b.prefix_h AND a.doc_id <> b.doc_id
""")
def dedup_boundary_overlap(spark, sf_dir):
    """SHARD-BOUNDARY overlap detection: document pairs where A's last
    {k} characters equal B's first {k} — the signature of one source
    document SPLIT ACROSS extraction shards (each half passes exact and
    near-dup dedup yet the corpus carries the seam twice and the
    reassembled text once more in fragments). One md5 per end, one
    equi-join on the boundary hash — no text ever shuffles; candidates
    feed dedup_substring_span for span-level confirmation. The
    cross-boundary complement of dedup_prefix_fingerprint."""
    d = t(spark, sf_dir, "documents").filter(
        F.length("text") >= _BOUNDARY_K)
    ends = d.select(
        "doc_id",
        F.md5(F.substring("text", 1, _BOUNDARY_K)).alias("prefix_h"),
        F.md5(F.expr(
            f"substring(text, greatest(length(text) - {_BOUNDARY_K} + 1,"
            f" 1), {_BOUNDARY_K})")).alias("suffix_h"),
        F.length("text").alias("n"))
    a = ends.select(F.col("doc_id").alias("doc_head"),
                    F.col("suffix_h").alias("h"),
                    F.col("n").alias("head_len"))
    b = ends.select(F.col("doc_id").alias("doc_tail"),
                    F.col("prefix_h").alias("h"),
                    F.col("n").alias("tail_len"))
    return (a.join(b, "h")
            .filter(F.col("doc_head") != F.col("doc_tail"))
            .select("doc_head", "doc_tail",
                    F.col("head_len").cast("bigint").alias("head_len"),
                    F.col("tail_len").cast("bigint").alias("tail_len")))


# ---------------------------------------------------------------------------
# corpus diversity via MinHash collision mass (round 7)
# ---------------------------------------------------------------------------

_DIV_HASHES = 8

_DIVERSITY_SQL = _MINHASH_SIG_SQL + f"""
, n AS (SELECT COUNT(*) AS n_docs FROM sigs),
coll AS (
{" UNION ALL ".join(
    f'''  SELECT {j} AS hash_idx,
         CAST(SUM(c * (c - 1)) AS BIGINT) AS coll_pairs
  FROM (SELECT h{j}, COUNT(*) AS c FROM sigs GROUP BY h{j})'''
    for j in range(_DIV_HASHES))}
)
SELECT coll.hash_idx, coll.coll_pairs,
       CAST(n.n_docs AS BIGINT) AS n_docs,
       coll.coll_pairs
         / (CAST(n.n_docs AS DOUBLE) * (n.n_docs - 1)) AS jaccard_est,
       1e0 - coll.coll_pairs
         / (CAST(n.n_docs AS DOUBLE) * (n.n_docs - 1)) AS diversity
FROM coll CROSS JOIN n
"""


@query("corpus_diversity_minhash", _DIVERSITY_SQL)
def corpus_diversity_minhash(spark, sf_dir):
    """CORPUS DIVERSITY from MinHash collision mass: for hash j,
    P(two random docs collide on min-hash j) estimates their expected
    pairwise Jaccard — so ordered-pair collision mass sum(c_v*(c_v-1))
    over the n*(n-1) pairs is a one-number average-pairwise-similarity
    (and 1 - it, a diversity score) WITHOUT any pair join. Eight
    estimators (one per signature column) expose the estimator spread.
    Everything is integer-exact until the final ratio: counts, collision
    mass, and n are BIGINTs on both engines.

    Scale: reuses the signature table (one pass over shingles), then ONE
    combinable count over the (hash_idx, value) unpivot — all 8
    estimators ride a single pair of exchanges (r8 VERDICT item 4: the
    previous 8 independent legs cost 2 exchanges each, 16 total). This
    is the cheap every-ingest-batch health metric; the LSH funnel is
    what you run when it drops."""
    from arangodb_java_parquet_spark.operators.dedup import (
        char_shingles, minhash_signatures)
    d = t(spark, sf_dir, "documents")
    sh = char_shingles(d)
    sigs = minhash_signatures(sh).transform(materialize)
    # doc count as a LAZY broadcast scalar (was an eager sigs.count()
    # job at construction time — r15); n*(n-1) is exact in double far
    # past any harness corpus size, identical to the old literal pair
    nd = sigs.agg(F.count(F.lit(1)).alias("__n"))
    stacked = sigs.select(F.expr(
        "stack(" + str(_DIV_HASHES) + ", "
        + ", ".join(f"{j}, h{j}" for j in range(_DIV_HASHES))
        + ") AS (hash_idx, hv)"))
    out = (stacked.groupBy("hash_idx", "hv")
           .agg(F.count(F.lit(1)).alias("c"))
           .groupBy("hash_idx")
           .agg(F.sum(F.col("c") * (F.col("c") - 1)).cast("bigint")
                .alias("coll_pairs"))
           .crossJoin(F.broadcast(nd)))
    est = (F.col("coll_pairs")
           / (F.col("__n").cast("double") * (F.col("__n") - 1)))
    return out.select(
        "hash_idx", "coll_pairs",
        F.col("__n").cast("bigint").alias("n_docs"),
        est.alias("jaccard_est"),
        (F.lit(1.0) - est).alias("diversity"))


# ---------------------------------------------------------------------------
# code-vs-prose detection heuristic (round 9)
# ---------------------------------------------------------------------------

# RE2-portable (no lookaround); identical classes in Java regex and DuckDB.
_CODE_KWS = (r"\b(def|class|return|import|function|var|const|void|"
             r"int|public|static|if|else|for|while)\b")


@query("text_code_detect", f"""
WITH feats AS (
  SELECT source,
         length(text) AS n_chars_t,
         length(regexp_replace(text, '[^{{}}();=<>\\[\\]]', '', 'g'))
           AS sym_chars,
         len(regexp_extract_all(text, '{_CODE_KWS}')) AS kw_hits
  FROM documents
),
scored AS (
  SELECT source, n_chars_t, sym_chars, kw_hits,
         CASE WHEN n_chars_t > 0
                   AND (sym_chars * 100 >= n_chars_t * 2 OR kw_hits >= 3)
              THEN 1 ELSE 0 END AS code_like
  FROM feats
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(code_like) AS BIGINT) AS n_code_like,
       CAST(SUM(kw_hits) AS BIGINT) AS total_kw_hits,
       CAST(SUM(CAST(round(CASE WHEN n_chars_t > 0
                                THEN sym_chars / CAST(n_chars_t AS DOUBLE)
                                ELSE CAST(0 AS DOUBLE) END, 9)
                     AS DECIMAL(30,9))) AS DOUBLE) / COUNT(*)
         AS avg_symbol_density
FROM scored GROUP BY source
""")
def text_code_detect(spark, sf_dir):
    """Heuristic code-vs-prose detection per source — the pretraining-
    pipeline router that decides which documents go to the code pipeline
    (or get dropped from a prose corpus): a document is code-like when
    its code-symbol density (braces/parens/semicolons/operators) reaches
    2% or it has 3+
    programming-keyword hits. Thresholding uses CROSS-MULTIPLIED integer
    comparisons (sym*100 >= chars*2), never a float cut on a ratio, so
    the decision is exact on both engines; the reported density average
    is a round-9 decimal sum of per-doc ratios over COUNT.

    Scale: per-document regex feature extraction is embarrassingly
    parallel map work; the only shuffle is the per-source rollup."""
    d = t(spark, sf_dir, "documents")
    n_chars_t = F.length("text")
    sym = F.length(F.regexp_replace("text", "[^{}();=<>\\[\\]]", ""))
    kw = F.regexp_count("text", F.lit(_CODE_KWS))
    feats = d.select("source", n_chars_t.alias("n_chars_t"),
                     sym.alias("sym_chars"), kw.alias("kw_hits"))
    code_like = F.when(
        (F.col("n_chars_t") > 0)
        & ((F.col("sym_chars") * 100 >= F.col("n_chars_t") * 2)
           | (F.col("kw_hits") >= 3)), 1).otherwise(0)
    scored = feats.withColumn("code_like", code_like)
    density = F.when(
        F.col("n_chars_t") > 0,
        F.col("sym_chars") / F.col("n_chars_t").cast("double")) \
        .otherwise(F.lit(0).cast("double"))
    return (scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("code_like").cast("bigint").alias("n_code_like"),
        F.sum("kw_hits").cast("bigint").alias("total_kw_hits"),
        (F.sum(F.round(density, 9).cast("decimal(30,9)")).cast("double")
         / F.count(F.lit(1))).alias("avg_symbol_density")))
