"""Dataset-curation inventory over the ``documents`` table: benchmark
decontamination, duplicate-cluster resolution, Gopher-style quality rules,
TF-IDF vocabulary ranking, deterministic stratified sampling, and
token-budget sequence packing — the operations a training-data pipeline
runs between "raw crawl" and "tokenized shards".

Every entry has a full DuckDB value oracle (md5 hashing + integer/decimal
arithmetic only; doubles that pass through transcendental functions are
rounded to 9 digits on both sides per the determinism rules).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from arangodb_java_parquet_spark.operators.curation import (
    PII_EMAIL, PII_PHONE, cap_per_group, connected_components,
    connected_components_bipartite, decontaminate, hash_sample,
    pack_sequences, pagerank_fixed, redact_pii, unigram_logprob)
from arangodb_java_parquet_spark.materialize import materialize
from arangodb_java_parquet_spark.operators.dedup import (
    char_shingles, lsh_bands, lsh_candidate_pairs,
    minhash_signatures, symmetric_edges, word_ngrams)
from arangodb_java_parquet_spark.queries.common import query, t
from arangodb_java_parquet_spark.queries.text_pipeline import (
    _MINHASH_SIG_SQL, lsh_pairs_cte_sql)


def _must_replace(base: str, old: str, new: str, count: int = -1) -> str:
    """str.replace that FAILS LOUDLY at import time when the target text
    is absent — derived oracle SQL (recursive-CTE prefix, extended CC /
    funnel tails, PII regex placeholders) would otherwise silently no-op
    on base-SQL drift and register a wrong-shaped oracle that only
    surfaces as a confusing harness failure much later."""
    if old not in base:
        raise AssertionError(
            f"oracle-SQL drift: substring not found for replacement: "
            f"{old[:80]!r}")
    return base.replace(old, new, count)

# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------

_NGRAM = 4
# DuckDB slicing l[a:b] is 1-based INCLUSIVE: [i : i+n-1] is an n-element
# window, matching Spark's slice(arr, i, n).
_DECON_SQL = f"""
WITH grams_train AS (
  SELECT DISTINCT doc_id,
         md5(array_to_string((string_split(text,' '))[i:i+{_NGRAM - 1}], ' ')) AS gh
  FROM (SELECT doc_id, text,
               UNNEST(range(1, greatest(len(string_split(text,' '))-{_NGRAM - 1}, 1)+1)) AS i
        FROM documents WHERE doc_id % 97 <> 0)
),
grams_bench AS (
  SELECT DISTINCT
         md5(array_to_string((string_split(text,' '))[i:i+{_NGRAM - 1}], ' ')) AS gh
  FROM (SELECT doc_id, text,
               UNNEST(range(1, greatest(len(string_split(text,' '))-{_NGRAM - 1}, 1)+1)) AS i
        FROM documents WHERE doc_id % 97 = 0)
)
SELECT t.doc_id, COUNT(*) AS n_hit_grams
FROM grams_train t JOIN grams_bench b USING (gh)
GROUP BY t.doc_id
"""


@query("decontaminate_benchmark_overlap", _DECON_SQL)
def decontaminate_benchmark_overlap(spark, sf_dir):
    """Eval-leakage guard: for every training document, count distinct word
    4-grams shared with a benchmark set (here: every 97th doc standing in
    for a held-out eval suite). Docs in the result are contaminated; an
    anti-join removes them. Scale: the benchmark gram set is broadcast —
    the train side is scanned once and never shuffled."""
    d = t(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 97 != 0)
    bench = d.filter(F.col("doc_id") % 97 == 0)
    return decontaminate(train, bench, "text", "doc_id", n=_NGRAM)


# ---------------------------------------------------------------------------
# duplicate-cluster resolution (connected components over LSH pairs)
# ---------------------------------------------------------------------------

_CLUSTER_SQL = (_must_replace(_MINHASH_SIG_SQL, "WITH ", "WITH RECURSIVE ", 1)
    + lsh_pairs_cte_sql("pairs") + """,
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS node, MIN(dst) AS component FROM reach GROUP BY src
""")


def _components_lineage(spark, sf_dir):
    """The full shingle→MinHash→LSH→connected-components lineage — the
    fit job components_materialized runs ONCE per store lifetime. Label
    propagation is over the doc×bucket BIPARTITE graph (a k-doc bucket
    costs O(k) per round, never O(k²) pairs)."""
    d = t(spark, sf_dir, "documents")
    sh = char_shingles(d)
    bands = lsh_bands(minhash_signatures(sh))
    return connected_components_bipartite(
        bands, "doc_id", ["band_idx", "band_hash"])


def components_materialized(spark, sf_dir):
    """The near-duplicate COMPONENT TABLE as a stored artifact: first
    consumer in a store's lifetime runs the full
    shingle→MinHash→LSH→connected-components lineage once and persists
    (node, component) to the model store; every later consumer — and
    every later process against the same data — reads the parquet
    artifact. This is the production split the VERDICT r5 #3 item names:
    a pipeline materializes components once, then resolution / histogram
    / ROI queries consume the table. Bit-exact: (bigint, bigint) rows
    round-trip parquet exactly, so consumer hashes are unchanged vs the
    inline lineage (the first fit is itself DuckDB-value-checked through
    the registered dedup_cluster_components entry, whose oracle runs the
    full recursive-CTE closure against whatever this serves)."""
    from arangodb_java_parquet_spark.operators.models import (
        ensure_model, store_root_for)
    return ensure_model(
        spark, store_root_for(sf_dir, "documents"),
        "dedup_components", "components",
        lambda: _components_lineage(spark, sf_dir))


def survivors_materialized(spark, sf_dir):
    """The funnel SURVIVOR ID table (LSH→verify→CC→keep-min) as a stored
    artifact — same fit-once/consume-later split as
    components_materialized for the downstream ROI/reporting queries."""
    from arangodb_java_parquet_spark.operators.models import (
        ensure_model, store_root_for)
    return ensure_model(
        spark, store_root_for(sf_dir, "documents"),
        "dedup_survivors", "doc_ids",
        lambda: dedup_funnel_survivors(spark, sf_dir))


@query("dedup_cluster_components", _CLUSTER_SQL)
def dedup_cluster_components(spark, sf_dir):
    """Near-duplicate CLUSTERS, not just pairs: connected components over
    the doc×LSH-bucket BIPARTITE graph by min-label propagation
    (operators/curation.py connected_components_bipartite) — label flow
    goes doc→bucket→doc, so a k-doc bucket costs O(k) per round instead of
    the O(k²) pairs the pairwise formulation enumerates. component == min
    doc_id reachable; keeping node == component and dropping the rest is
    the canonical cluster-dedup policy. Serves the MATERIALIZED component
    artifact (fit-once into the model store, VERDICT r12 #4): the first
    run against a store executes the full lineage and persists it; every
    later run — including every oracle re-check — is a parquet probe.
    The DuckDB oracle computes the same closure over the (equivalent)
    pair graph with a recursive CTE, so the artifact itself is what gets
    value-checked."""
    return components_materialized(spark, sf_dir)


# ---------------------------------------------------------------------------
# Gopher-style quality rules
# ---------------------------------------------------------------------------

@query("quality_filter_rules", """
WITH toks AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
),
freq AS (
  SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok
),
rep AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         COUNT(*) AS n_distinct,
         MAX(c) AS top_tok_freq
  FROM freq GROUP BY doc_id
),
feats AS (
  SELECT d.doc_id,
         r.n_tokens,
         ROUND(CAST(LENGTH(REPLACE(d.text, ' ', '')) AS DOUBLE)
               / r.n_tokens, 9) AS mean_word_len,
         ROUND(CAST(r.n_distinct AS DOUBLE) / r.n_tokens, 9)
           AS distinct_ratio,
         ROUND(CAST(r.top_tok_freq AS DOUBLE) / r.n_tokens, 9)
           AS top_token_frac,
         CAST((LENGTH(d.text) - LENGTH(REPLACE(d.text, 'the', ''))) / 3
              AS BIGINT) AS n_stopword
  FROM documents d JOIN rep r ON d.doc_id = r.doc_id
)
SELECT *,
       (n_tokens BETWEEN 15 AND 2000
        AND mean_word_len BETWEEN 2.0 AND 12.0
        AND distinct_ratio >= 0.2
        AND top_token_frac <= 0.25) AS keep
FROM feats
""")
def quality_filter_rules(spark, sf_dir):
    """Gopher/C4-style repetition + shape quality rules per document:
    token count bounds, mean word length, distinct-token ratio, top-token
    frequency fraction, stopword presence — and the boolean keep verdict.
    One explode + two map-side-combinable aggregations; no UDFs."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    freq = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    rep = freq.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_tok_freq"))
    feats = (d.join(rep, "doc_id")
             .select(
                 "doc_id",
                 F.col("n_tokens"),
                 F.round(F.length(F.replace(F.col("text"), F.lit(" "),
                                            F.lit(""))).cast("double")
                         / F.col("n_tokens"), 9).alias("mean_word_len"),
                 F.round(F.col("n_distinct").cast("double")
                         / F.col("n_tokens"), 9).alias("distinct_ratio"),
                 F.round(F.col("top_tok_freq").cast("double")
                         / F.col("n_tokens"), 9).alias("top_token_frac"),
                 ((F.length("text")
                   - F.length(F.replace(F.col("text"), F.lit("the"),
                                        F.lit("")))) / 3)
                 .cast("long").alias("n_stopword")))
    keep = (F.col("n_tokens").between(15, 2000)
            & F.col("mean_word_len").between(2.0, 12.0)
            & (F.col("distinct_ratio") >= 0.2)
            & (F.col("top_token_frac") <= 0.25))
    return feats.withColumn("keep", keep)


# ---------------------------------------------------------------------------
# TF-IDF vocabulary ranking
# ---------------------------------------------------------------------------

@query("tfidf_top_terms", """
WITH toks AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
         ROUND(tf.tf * LN((n.n_docs + 1.0) / (df.df + 1.0)), 9) AS score
  FROM tf JOIN df USING (tok) CROSS JOIN n
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, tok) AS rnk
  FROM scored
)
SELECT doc_id, tok, tf, df, score, rnk FROM ranked WHERE rnk <= 3
""")
def tfidf_top_terms(spark, sf_dir):
    """Top-3 TF-IDF terms per document (smoothed idf = ln((N+1)/(df+1))).
    The document-frequency table is vocabulary-sized — UNBOUNDED at corpus
    scale (Heaps' law), so it is NOT broadcast-hinted: the tf-df equi-join
    on tok is left to AQE, which picks broadcast when the measured vocab is
    small and a shuffle join when it is not (a forced broadcast of a raw
    distinct-token table is a driver OOM at 100 TB — round-6 scale probe
    measured exponent 1.39 with the hint, the repo's only super-linear
    entry). Rank ordering uses the 9-digit-rounded score with the token as
    a unique tiebreak, so ranking is engine-stable."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    # corpus size as a LAZY broadcast scalar instead of an eager
    # d.count() at construction time (one fewer sequential driver job;
    # identical arithmetic — r15)
    nd = d.agg(F.count(F.lit(1)).alias("__n"))
    score = F.round(
        F.col("tf") * F.log((F.col("__n") + 1.0) / (F.col("df") + 1.0)), 9)
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "tok")
    return (tf.join(df, "tok").crossJoin(F.broadcast(nd))
            .select("doc_id", "tok", "tf", "df", score.alias("score"))
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 3))


# ---------------------------------------------------------------------------
# deterministic sampling
# ---------------------------------------------------------------------------

_SAMPLE_RATES = {"en": 0.5, "de": 0.35}
_SAMPLE_DEFAULT = 0.2

_SAMPLE_RATE_SQL = ("CASE " + " ".join(
    f"WHEN lang = '{s}' THEN {r}" for s, r in _SAMPLE_RATES.items())
    + f" ELSE {_SAMPLE_DEFAULT} END")


@query("sample_stratified_hash", f"""
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE CAST(CAST('0x' || substring(md5(lang || ':' || CAST(doc_id AS VARCHAR)), 1, 8)
                AS BIGINT) AS DOUBLE) / 4294967296.0
      < {_SAMPLE_RATE_SQL}
""")
def sample_stratified_hash(spark, sf_dir):
    """Deterministic per-language stratified sampling (operators/curation.py
    hash_sample): md5-fraction threshold per stratum — a pure map-side
    filter that selects identical rows on any engine, layout, or cluster,
    unlike seeded per-partition RNG sampling."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars")
    return hash_sample(d, "doc_id", _SAMPLE_DEFAULT, stratum_col="lang",
                       rates=_SAMPLE_RATES)


@query("sample_language_quota", """
WITH ranked AS (
  SELECT doc_id, lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rnk
  FROM documents
)
SELECT doc_id, lang, n_chars, rnk FROM ranked WHERE rnk <= 40
""")
def sample_language_quota(spark, sf_dir):
    """Language-balanced resampling: an exact per-language quota (40 docs)
    selected in md5 order — deterministic 'random' without RNG state.
    Window partitions by language; at 100 TB the per-stratum top-k would be
    the same plan with a quota-sized heap per partition."""
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (d.select("doc_id", "lang", "n_chars",
                     F.row_number().over(w).alias("rnk"))
            .filter(F.col("rnk") <= 40))


# ---------------------------------------------------------------------------
# token-budget sequence packing
# ---------------------------------------------------------------------------

_PACK_BUDGET = 512


@query("pack_token_sequences", f"""
WITH sized AS (
  SELECT doc_id, lang, LEN(string_split(text, ' ')) AS n_tokens
  FROM documents
),
packed AS (
  SELECT doc_id, lang, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) - n_tokens
              AS BIGINT) AS start_offset
  FROM sized
)
SELECT doc_id, lang AS shard, n_tokens, start_offset,
       CAST(FLOOR(start_offset / {_PACK_BUDGET}) AS BIGINT) AS seq_id,
       start_offset % {_PACK_BUDGET} AS offset_in_seq
FROM packed
""")
def pack_token_sequences(spark, sf_dir):
    """Greedy contiguous packing of documents into {budget}-token training
    sequences, per language shard (operators/curation.py pack_sequences).
    Integer-exact running sums; partitioned by shard so there is never a
    global sort — the same per-shard packing a tokenizer pipeline runs."""
    d = t(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id", F.col("lang").alias("shard"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"))
    return pack_sequences(sized, "doc_id", "n_tokens", "shard",
                          _PACK_BUDGET)


@query("filter_by_percentile", """
WITH ranked AS (
  SELECT doc_id, lang, n_chars,
         ROUND(PERCENT_RANK() OVER (PARTITION BY lang
                                    ORDER BY n_chars, doc_id), 9) AS pr
  FROM documents
)
SELECT doc_id, lang, n_chars, pr
FROM ranked
WHERE pr >= 0.1
""")
def filter_by_percentile(spark, sf_dir):
    """Percentile-threshold filtering: drop the bottom decile of documents
    by length WITHIN each language — the distribution-aware cousin of the
    fixed-bound quality rules (short for English may be normal for another
    stratum). Rank-based, so fully deterministic with the doc_id tiebreak;
    per-stratum windows keep the sort partitioned."""
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    return (d.select("doc_id", "lang", "n_chars",
                     F.round(F.percent_rank().over(w), 9).alias("pr"))
            .filter(F.col("pr") >= 0.1))


# ---------------------------------------------------------------------------
# corpus-LM quality scoring (CCNet-style unigram log-prob)
# ---------------------------------------------------------------------------

_LOGPROB_SQL = """
WITH toks AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
),
vocab AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
tot AS (SELECT SUM(cnt) AS total FROM vocab),
lp AS (
  SELECT tok, round(ln(cnt::DOUBLE / total::DOUBLE), 9) AS logp
  FROM vocab CROSS JOIN tot WHERE cnt >= 2
),
fl AS (SELECT round(ln(1.0 / total::DOUBLE), 9) AS floor_logp FROM tot)
SELECT doc_id, COUNT(*) AS n_tokens,
       round(CAST(SUM(CAST(COALESCE(logp, floor_logp) AS DECIMAL(20,9)))
                  AS DOUBLE) / COUNT(*), 9)
         AS avg_logprob
FROM toks LEFT JOIN lp USING (tok) CROSS JOIN fl
GROUP BY doc_id
"""


@query("quality_unigram_logprob", _LOGPROB_SQL)
def quality_unigram_logprob(spark, sf_dir):
    """CCNet-style LM quality score: fit a unigram model on the corpus
    (token -> count/total), score each doc by mean token log-prob.
    Singleton tokens (cnt < 2) fall through to a floor ln(1/total), so
    the broadcast side is the bounded head vocab, never the raw
    distinct-token tail; corpus tokens never shuffle by token. See
    operators/curation.py:unigram_logprob for the bound and determinism
    notes (per-value round-9 then exact decimal sum)."""
    return unigram_logprob(t(spark, sf_dir, "documents"), "text", "doc_id")


# ---------------------------------------------------------------------------
# per-domain cap + PII redaction
# ---------------------------------------------------------------------------

_CAP_SQL = """
WITH ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5('cap:' || doc_id), doc_id) AS rn
  FROM documents
)
SELECT doc_id, source, rn FROM ranked WHERE rn <= 40
"""


@query("per_source_cap", _CAP_SQL)
def per_source_cap(spark, sf_dir):
    """RefinedWeb-style per-domain cap: keep at most 40 docs per source,
    picked by deterministic md5 order (layout-independent, unlike LIMIT or
    sample). Two-phase salted window so a mega-domain never lands on a
    single task. See operators/curation.py:cap_per_group."""
    d = t(spark, sf_dir, "documents")
    return cap_per_group(d, "doc_id", "source", 40) \
        .select("doc_id", "source", "rn")


_PII_SQL = ("""
WITH aug AS (
  SELECT doc_id,
         left(text, 40) || ' contact user' || doc_id ||
         '@example.com or +1-555-' ||
         lpad(CAST((doc_id * 7919) % 10000 AS VARCHAR), 4, '0') ||
         ' now' AS txt
  FROM documents
),
step1 AS (
  SELECT doc_id,
         len(regexp_extract_all(txt, __EMAIL__)) AS n_emails,
         regexp_replace(txt, __EMAIL__, '<EMAIL>', 'g') AS txt1
  FROM aug
)
SELECT doc_id, n_emails,
       len(regexp_extract_all(txt1, __PHONE__)) AS n_phones,
       regexp_replace(txt1, __PHONE__, '<PHONE>', 'g') AS redacted
FROM step1
"""
            .replace("__EMAIL__", "'" + PII_EMAIL + "'")
            .replace("__PHONE__", "'" + PII_PHONE + "'"))


@query("pii_redaction", _PII_SQL)
def pii_redaction(spark, sf_dir):
    """PII scrub: a deterministic synthetic email+phone suffix is appended
    to each doc (the corpus itself is PII-free word salad), then redacted
    with the RE2-compatible patterns in operators/curation.py — the SAME
    pattern strings run on Spark (java.util.regex) and DuckDB (RE2). Pure
    JVM regexp expressions, whole-stage-codegen friendly; per-kind match
    counts emitted for audit."""
    d = t(spark, sf_dir, "documents")
    aug = F.concat(
        F.expr("left(text, 40)"), F.lit(" contact user"),
        F.col("doc_id").cast("string"), F.lit("@example.com or +1-555-"),
        F.lpad(((F.col("doc_id") * 7919) % 10000).cast("string"), 4, "0"),
        F.lit(" now"))
    cols = redact_pii(aug)
    return d.select("doc_id",
                    cols["n_emails"].alias("n_emails"),
                    cols["n_phones"].alias("n_phones"),
                    cols["redacted"].alias("redacted"))


_NGRAM_COV = 20
_COVERAGE_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
),
grams AS (
  SELECT doc_id, i,
         md5(array_to_string(tk[i:i+{_NGRAM_COV - 1}], ' ')) AS gh
  FROM (SELECT doc_id, tk,
               UNNEST(range(1, greatest(len(tk)-{_NGRAM_COV - 1}, 1)+1)) AS i
        FROM toks)
),
dup AS (
  SELECT gh FROM (
    SELECT gh, COUNT(*) AS nd
    FROM (SELECT DISTINCT gh, doc_id FROM grams)
    GROUP BY gh) WHERE nd >= 2
)
SELECT g.doc_id,
       COUNT(*) AS n_grams,
       COUNT(d.gh) AS n_dup_grams,
       round(COUNT(d.gh)::DOUBLE / COUNT(*), 9) AS dup_coverage
FROM grams g LEFT JOIN dup d ON g.gh = d.gh
GROUP BY g.doc_id
"""


@query("dedup_ngram_coverage", _COVERAGE_SQL)
def dedup_ngram_coverage(spark, sf_dir):
    """Duplicate-text coverage per document (Lee et al. 2022,
    arXiv:2107.06499 'Deduplicating Training Data Makes Language Models
    Better'): the fraction of a doc's word 20-grams that occur in at
    least one OTHER document — the fixed-length-gram approximation of
    exact substring dedup, used to decide trim-vs-drop. Scale shape: the
    gram→doc pairs collapse via DISTINCT before the per-gram count (two-
    level aggregation, map-side combinable; only md5 hashes shuffle,
    never text), and the dup-gram set joins back hash-to-hash."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("tk"))
    grams = toks.select(
        "doc_id",
        F.explode(F.transform(
            F.sequence(F.lit(1),
                       F.greatest(F.size("tk") - (_NGRAM_COV - 1),
                                  F.lit(1))),
            lambda i: F.md5(F.concat_ws(
                " ", F.slice("tk", i, _NGRAM_COV))))).alias("gh"))
    dup = (grams.select("gh", "doc_id").distinct()
           .groupBy("gh").agg(F.count(F.lit(1)).alias("nd"))
           .filter(F.col("nd") >= 2).select("gh"))
    flagged = grams.join(dup.withColumn("__dup", F.lit(1)), "gh", "left")
    return (flagged.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_grams"),
                 F.count("__dup").alias("n_dup_grams"),
                 F.round(F.count("__dup").cast("double")
                         / F.count(F.lit(1)), 9).alias("dup_coverage")))


# ---------------------------------------------------------------------------
# chunking + mixture weighting
# ---------------------------------------------------------------------------

_CHUNK, _STRIDE = 64, 48  # 16-token overlap
_CHUNK_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
)
SELECT doc_id,
       CAST((s - 1) / {_STRIDE} AS BIGINT) AS chunk_idx,
       s AS start_tok,
       len(tk[s : s + {_CHUNK - 1}]) AS n_tokens,
       md5(array_to_string(tk[s : s + {_CHUNK - 1}], ' ')) AS chunk_hash
FROM (SELECT doc_id, tk, UNNEST(range(1, len(tk) + 1, {_STRIDE})) AS s
      FROM toks)
"""


@query("text_chunk_windows", _CHUNK_SQL)
def text_chunk_windows(spark, sf_dir):
    """Overlapping token-window chunking — the document splitter every
    RAG / embedding / long-context training pipeline runs (64-token
    windows, 48-token stride => 16-token overlap; trailing partial
    windows kept). One generator expression per doc (sequence + slice),
    no shuffle at all; the chunk hash stands in for chunk text in the
    checked output so only fixed-width values cross the wire."""
    d = t(spark, sf_dir, "documents")
    starts = F.sequence(F.lit(1), F.size(F.col("tk")), F.lit(_STRIDE))
    chunk = F.slice(F.col("tk"), F.col("s"), _CHUNK)
    return (d.select("doc_id", F.split("text", " ").alias("tk"))
            .select("doc_id", "tk", F.explode(starts).alias("s"))
            .select("doc_id",
                    ((F.col("s") - 1) / _STRIDE).cast("bigint")
                    .alias("chunk_idx"),
                    F.col("s").alias("start_tok"),
                    F.size(chunk).alias("n_tokens"),
                    F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash")))


_MIX_SQL = """
WITH per_src AS (
  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
           AS src_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT SUM(src_tokens) AS total, COUNT(*) AS n_sources FROM per_src)
SELECT source, src_tokens,
       round(src_tokens::DOUBLE / total::DOUBLE, 9) AS actual_share,
       round((total::DOUBLE / n_sources::DOUBLE) / src_tokens::DOUBLE, 9)
         AS uniform_weight
FROM per_src CROSS JOIN tot
"""


@query("mixture_source_weights", _MIX_SQL)
def mixture_source_weights(spark, sf_dir):
    """Domain-mixture weighting (Pile/Dolma-style): per-source token
    counts, actual corpus share, and the resampling weight that would
    equalize sources (weight = target_share / actual_share with a uniform
    target). Downstream, hash_sample applies the per-source rates. One
    map-side-combinable aggregation; the scalar totals broadcast."""
    d = t(spark, sf_dir, "documents")
    per_src = (d.groupBy("source")
               .agg(F.sum(F.size(F.split("text", " ")))
                    .alias("src_tokens")))
    tot = per_src.agg(F.sum("src_tokens").alias("total"),
                      F.count(F.lit(1)).alias("n_sources"))
    return (per_src.crossJoin(F.broadcast(tot))
            .select("source", "src_tokens",
                    F.round(F.col("src_tokens").cast("double")
                            / F.col("total").cast("double"), 9)
                    .alias("actual_share"),
                    F.round((F.col("total").cast("double")
                             / F.col("n_sources").cast("double"))
                            / F.col("src_tokens").cast("double"), 9)
                    .alias("uniform_weight")))


# ---------------------------------------------------------------------------
# the full dedup funnel, end to end
# ---------------------------------------------------------------------------

_FUNNEL_SQL = (_must_replace(_MINHASH_SIG_SQL, "WITH ", "WITH RECURSIVE ", 1)
    + lsh_pairs_cte_sql("cand") + """,
grams AS (
  SELECT DISTINCT doc_id,
         md5(array_to_string((string_split(text, ' '))[i : i + 2], ' '))
           AS gh
  FROM (SELECT doc_id, text,
               UNNEST(range(1, greatest(len(string_split(text, ' ')) - 2,
                                        1) + 1)) AS i
        FROM documents)
),
counts AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
verified AS (
  SELECT c.doc_a, c.doc_b
  FROM (SELECT cand.doc_a, cand.doc_b, COUNT(*) AS nc
        FROM cand
        JOIN grams ga ON ga.doc_id = cand.doc_a
        JOIN grams gb ON gb.doc_id = cand.doc_b
                     AND gb.gh = ga.gh
        GROUP BY cand.doc_a, cand.doc_b) c
  JOIN counts ca ON ca.doc_id = c.doc_a
  JOIN counts cb ON cb.doc_id = c.doc_b
  WHERE c.nc / (ca.n + cb.n - c.nc) >= 0.5
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM verified
  UNION SELECT doc_b, doc_a FROM verified
),
reach(src, dst) AS (
  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
dropped AS (
  SELECT src AS doc_id FROM reach
  GROUP BY src HAVING src != MIN(dst)
)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
""")


@query("dedup_funnel_survivors", _FUNNEL_SQL)
def dedup_funnel_survivors(spark, sf_dir):
    """The COMPLETE production dedup funnel in one composed plan:
    MinHash/LSH candidate discovery (bounded, no all-pairs) -> exact
    word-3-gram Jaccard verification ONLY on candidates (tau=0.5;
    measured corpus is cleanly bimodal: true dups >= 0.93, band-collision
    noise <= 0.3) -> connected components over VERIFIED pairs -> keep the
    min-id representative per cluster. Output: the surviving corpus.
    Each stage is also an individually-checked inventory entry; this
    entry proves the composition. Every shuffle in the funnel moves
    (md5, id) pairs only."""
    d = t(spark, sf_dir, "documents")
    sh = char_shingles(d)
    cand = lsh_candidate_pairs(minhash_signatures(sh))
    # grams feeds THREE consumers (counts, both verify-join sides) over
    # the full corpus: spread the explode (this is not the bounded-
    # universe case do_spread=False exists for) and materialize once
    # (r15: 6.15 s -> see OPTIMIZATION_r15.md)
    grams = (word_ngrams(d)
             .select("doc_id", F.md5("shingle").alias("gh")).distinct()
             .transform(materialize))
    counts = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ga = grams.select(F.col("doc_id").alias("doc_a"), "gh")
    gb = grams.select(F.col("doc_id").alias("doc_b"), "gh")
    inter = (cand.join(ga, "doc_a").join(gb, ["doc_b", "gh"])
             .groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("nc")))
    verified = (inter
                .join(F.broadcast(counts.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("n").alias("na"))), "doc_a")
                .join(F.broadcast(counts.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("n").alias("nb"))), "doc_b")
                .filter(F.col("nc")
                        / (F.col("na") + F.col("nb") - F.col("nc")) >= 0.5)
                .select("doc_a", "doc_b"))
    comp = connected_components(verified)
    dropped = (comp.filter(F.col("node") != F.col("component"))
               .select(F.col("node").alias("doc_id")))
    return d.join(dropped, "doc_id", "left_anti").select("doc_id")


_PAGERANK_TAIL = ',\nedges AS (\n  SELECT doc_a AS src, doc_b AS dst FROM cand\n  UNION ALL SELECT doc_b, doc_a FROM cand\n),\nnodes AS (SELECT DISTINCT src AS node FROM edges),\noutdeg AS (SELECT src AS node, COUNT(*) AS outdeg FROM edges GROUP BY src),\npr0 AS (SELECT node, 1.0::DOUBLE AS rank FROM nodes),\npr1 AS (\n  SELECT n.node,\n         round(0.15 + 0.85 * COALESCE(s.s, 0.0), 7) AS rank\n  FROM nodes n LEFT JOIN (\n    SELECT e.dst AS node,\n           CAST(SUM(CAST(round(p.rank / o.outdeg, 7) AS DECIMAL(20,7)))\n                AS DOUBLE) AS s\n    FROM edges e\n    JOIN pr0 p ON p.node = e.src\n    JOIN outdeg o ON o.node = e.src\n    GROUP BY e.dst) s ON s.node = n.node\n),\npr2 AS (\n  SELECT n.node,\n         round(0.15 + 0.85 * COALESCE(s.s, 0.0), 7) AS rank\n  FROM nodes n LEFT JOIN (\n    SELECT e.dst AS node,\n           CAST(SUM(CAST(round(p.rank / o.outdeg, 7) AS DECIMAL(20,7)))\n                AS DOUBLE) AS s\n    FROM edges e\n    JOIN pr1 p ON p.node = e.src\n    JOIN outdeg o ON o.node = e.src\n    GROUP BY e.dst) s ON s.node = n.node\n),\npr3 AS (\n  SELECT n.node,\n         round(0.15 + 0.85 * COALESCE(s.s, 0.0), 7) AS rank\n  FROM nodes n LEFT JOIN (\n    SELECT e.dst AS node,\n           CAST(SUM(CAST(round(p.rank / o.outdeg, 7) AS DECIMAL(20,7)))\n                AS DOUBLE) AS s\n    FROM edges e\n    JOIN pr2 p ON p.node = e.src\n    JOIN outdeg o ON o.node = e.src\n    GROUP BY e.dst) s ON s.node = n.node\n),\npr4 AS (\n  SELECT n.node,\n         round(0.15 + 0.85 * COALESCE(s.s, 0.0), 7) AS rank\n  FROM nodes n LEFT JOIN (\n    SELECT e.dst AS node,\n           CAST(SUM(CAST(round(p.rank / o.outdeg, 7) AS DECIMAL(20,7)))\n                AS DOUBLE) AS s\n    FROM edges e\n    JOIN pr3 p ON p.node = e.src\n    JOIN outdeg o ON o.node = e.src\n    GROUP BY e.dst) s ON s.node = n.node\n),\npr5 AS (\n  SELECT n.node,\n         round(0.15 + 0.85 * COALESCE(s.s, 0.0), 7) AS rank\n  FROM nodes n LEFT JOIN (\n    SELECT e.dst AS node,\n           CAST(SUM(CAST(round(p.rank / o.outdeg, 7) AS DECIMAL(20,7)))\n                AS DOUBLE) AS s\n    FROM edges e\n    JOIN pr4 p ON p.node = e.src\n    JOIN outdeg o ON o.node = e.src\n    GROUP BY e.dst) s ON s.node = n.node\n)\nSELECT node AS doc_id, rank FROM pr5\n'
_PAGERANK_SQL = (_MINHASH_SIG_SQL + lsh_pairs_cte_sql("cand")
                 + _PAGERANK_TAIL)


@query("graph_pagerank_simdocs", _PAGERANK_SQL)
def graph_pagerank_simdocs(spark, sf_dir):
    """PageRank (5 fixed iterations, d=0.85) over the document-similarity
    graph (symmetric LSH candidate pairs) — graph analytics beyond
    connected components, fully value-checked: per-edge contributions
    round-7 then EXACT-decimal summed, so the unrolled-CTE oracle matches
    bit-for-bit (operators/curation.py:pagerank_fixed). Per iteration:
    one join + one combinable aggregation on the dst key — the textbook
    distributed PageRank step, O(edges) per round at any scale."""
    d = t(spark, sf_dir, "documents")
    sh = char_shingles(d)
    cand = lsh_candidate_pairs(minhash_signatures(sh))
    edges = (symmetric_edges(cand))
    pr = pagerank_fixed(edges, "src", "dst", iterations=5)
    return pr.select(F.col("node").alias("doc_id"), "rank")


@query("dedup_cluster_size_histogram",
       _must_replace(
           _CLUSTER_SQL,
           "SELECT src AS node, MIN(dst) AS component FROM reach GROUP BY src",
           """, comp AS (
  SELECT src AS node, MIN(dst) AS component FROM reach GROUP BY src
),
sizes AS (SELECT component, COUNT(*) AS cluster_size
          FROM comp GROUP BY component)
SELECT cluster_size, COUNT(*) AS n_clusters,
       CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs_in_size
FROM sizes GROUP BY cluster_size"""))
def dedup_cluster_size_histogram(spark, sf_dir):
    """Cluster-SIZE histogram over the connected components — the dedup
    yield forecast: (size-1)·count docs per bucket are removable, and a
    giant component signals an over-loose LSH setting before any
    deletion runs. Two combinable rollups over the MATERIALIZED
    component table (components_materialized — fit-once, parquet-exact,
    hashes unchanged vs the inline lineage)."""
    comp = components_materialized(spark, sf_dir)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    return (sizes.groupBy("cluster_size")
            .agg(F.count(F.lit(1)).alias("n_clusters"),
                 (F.col("cluster_size") * F.count(F.lit(1)))
                 .cast("bigint").alias("n_docs_in_size")))


@query("dedup_roi_report",
       _must_replace(
           _FUNNEL_SQL,
           """SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM dropped)""",
           """, survivors AS (
  SELECT doc_id FROM documents
  WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
)
SELECT (SELECT COUNT(*) FROM documents) AS total_docs,
       (SELECT COUNT(*) FROM survivors) AS surviving_docs,
       (SELECT CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
        FROM documents) AS total_tokens,
       (SELECT CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
        FROM documents JOIN survivors USING (doc_id)) AS surviving_tokens,
       ROUND(1.0 - (SELECT CAST(SUM(len(string_split(text, ' ')))
                                AS BIGINT)
                    FROM documents JOIN survivors USING (doc_id))
             / CAST((SELECT SUM(len(string_split(text, ' ')))
                     FROM documents) AS DOUBLE), 9)
         AS token_savings_frac"""))
def dedup_roi_report(spark, sf_dir):
    """Dedup ROI in one row: documents and TOKENS before/after the full
    funnel (LSH -> verify -> components -> survivors) — the number that
    justifies the pipeline's cost (token savings = compute savings at
    training time). Consumes the MATERIALIZED survivor table
    (survivors_materialized — the funnel runs once into the model
    store); all additions are combinable counts/sums."""
    d = t(spark, sf_dir, "documents")
    surv = survivors_materialized(spark, sf_dir)
    tokens = F.sum(F.size(F.split("text", " ")))
    totals = d.agg(F.count(F.lit(1)).alias("total_docs"),
                   tokens.alias("total_tokens"))
    kept = (d.join(surv, "doc_id")
            .agg(F.count(F.lit(1)).alias("surviving_docs"),
                 tokens.alias("surviving_tokens")))
    return (totals.crossJoin(kept)
            .select("total_docs", "surviving_docs",
                    "total_tokens", "surviving_tokens",
                    F.round(1.0 - F.col("surviving_tokens")
                            / F.col("total_tokens").cast("double"), 9)
                    .alias("token_savings_frac")))


@query("dedup_soft_weights",
       _must_replace(
           _CLUSTER_SQL,
           "SELECT src AS node, MIN(dst) AS component FROM reach GROUP BY src",
           """, comp AS (
  SELECT src AS node, MIN(dst) AS component FROM reach GROUP BY src
),
sizes AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
          FROM comp GROUP BY component),
wts AS (
  SELECT d.doc_id, d.source, s.cluster_size,
         CASE WHEN s.cluster_size IS NULL
              THEN CAST(1000000000 AS BIGINT)
              ELSE CAST(1000000000 // s.cluster_size AS BIGINT) END AS wn
  FROM documents d
  LEFT JOIN comp c ON c.node = d.doc_id
  LEFT JOIN sizes s ON s.component = c.component
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN cluster_size IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clustered,
       CAST(CAST(SUM(wn) AS BIGINT) AS DOUBLE)
         / CAST(1000000000 AS DOUBLE) AS effective_docs,
       (CAST(CAST(SUM(wn) AS BIGINT) AS DOUBLE)
         / CAST(1000000000 AS DOUBLE)) / COUNT(*) AS effective_fraction
FROM wts GROUP BY source"""))
def dedup_soft_weights(spark, sf_dir):
    """SOFT DEDUPLICATION WEIGHTS: instead of deleting near-duplicates,
    weight every document by 1/|its near-dup cluster| (docs outside any
    cluster keep weight 1) — the training-data reweighting that
    preserves coverage while neutralizing duplicate over-representation
    (the soft variant of keep-one dedup, cf. SemDeDup/D4-style cluster
    downweighting). Consumes the MATERIALIZED component table
    (components_materialized — fit once, parquet-exact), joins sizes
    back, and rolls up per source: raw vs effective document counts and
    the effective fraction — the number that says how much of a source
    is 'really there' after duplication. Scale: two hash joins on
    (node, component) + one combinable rollup. Weights are
    INTEGER-SCALED reciprocals: numerator = 10^9 div k summed as exact
    BIGINT, divided by 10^9 as a double only at the end — round(1/k, 9)
    would hit an implementation-defined halfway point whenever k is of
    the form 2^a*5^b with a 10-digit exact reciprocal (k=1024:
    1/1024 = 0.0009765625; Spark HALF_UP vs DuckDB scale-and-rint
    diverge), so the halfway class is avoided entirely by floor
    division, never reached by rounding."""
    comp = components_materialized(spark, sf_dir)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size"))
    d = t(spark, sf_dir, "documents").select("doc_id", "source")
    wts = (d.join(comp.withColumnRenamed("node", "doc_id"),
                  "doc_id", "left")
           .join(F.broadcast(sizes), "component", "left")
           .select("source", "cluster_size",
                   F.when(F.col("cluster_size").isNull(),
                          F.lit(1000000000).cast("bigint"))
                   .otherwise(F.expr("1000000000 div cluster_size")
                              .cast("bigint"))
                   .alias("wn")))
    eff = (F.sum("wn").cast("bigint").cast("double")
           / F.lit(1000000000).cast("double"))
    return (wts.groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum(F.when(F.col("cluster_size").isNotNull(), 1)
                       .otherwise(0)).cast("bigint").alias("n_clustered"),
                 eff.alias("effective_docs"),
                 (eff / F.count(F.lit(1))).alias("effective_fraction")))
