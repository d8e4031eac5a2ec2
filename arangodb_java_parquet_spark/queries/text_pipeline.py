"""Training-data text pipeline inventory over the ``documents`` table:
exact/fingerprint dedup, MinHash+LSH candidate pairs, n-gram Jaccard,
text-quality stats, language-ID heuristic, token counting, fingerprinting,
multimodal binary metadata.

All hashes are md5 (engine-portable — see operators/dedup.py) so every one
of these has a full DuckDB value oracle, not just a row-count check.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from arangodb_java_parquet_spark.operators.dedup import (
    BAND_ROWS, NUM_HASHES, SHINGLE_K, char_shingles, jaccard_pairs,
    lsh_candidate_pairs, minhash_signatures, simhash_signatures, word_ngrams)
from arangodb_java_parquet_spark.materialize import materialize
from arangodb_java_parquet_spark.queries.common import query, t

# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

@query("dedup_exact", """
SELECT md5(text) AS text_hash,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
""")
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on content; keep the min doc_id.
    Scale: the shuffle moves (hash, id) pairs only — never the text."""
    d = t(spark, sf_dir, "documents")
    return (d.groupBy(F.md5("text").alias("text_hash"))
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count(F.lit(1)).alias("n_copies")))


@query("dedup_fingerprint", """
SELECT md5(lower(replace(text, ' ', ''))) AS fingerprint,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
""")
def dedup_fingerprint(spark, sf_dir):
    """Normalized-fingerprint dedup (case/whitespace-insensitive)."""
    d = t(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.replace(F.col("text"), F.lit(" "), F.lit(""))))
    return (d.groupBy(fp.alias("fingerprint"))
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count(F.lit(1)).alias("n_copies")))


def minhash_sig_cte_sql() -> str:
    """The ``hashed``/``sigs`` CTE pair deriving the MinHash signature
    table from a preceding ``shingles(doc_id, shingle)`` CTE — the ONE
    source of truth for the md5-word substring layout. Every oracle that
    needs signatures composes this fragment instead of hand-copying the
    slicing (a silently-drifted copy would only surface as a confusing
    hash mismatch in a full harness run). Mirrors
    operators/dedup.py:minhash_signatures exactly: hash word j =
    MIN(substring(md5('<j div 4>:' || shingle), 8*(j%4)+1, 8)); see that
    docstring for the intra-digest word-correlation caveat."""
    n_md5 = NUM_HASHES // 4
    m_cols = ", ".join(f"md5('{p}:' || shingle) AS m{p}"
                       for p in range(n_md5))
    sig_cols = ",\n         ".join(
        f"MIN(substring(m{j // 4}, {8 * (j % 4) + 1}, 8)) AS h{j}"
        for j in range(NUM_HASHES))
    return (f"""hashed AS (
  SELECT doc_id, {m_cols}
  FROM shingles
),
sigs AS (
  SELECT doc_id,
         {sig_cols}
  FROM hashed GROUP BY doc_id
)""")


MINHASH_SHINGLES_CTE = f"""WITH shingles AS (
  SELECT DISTINCT doc_id, shingle
  FROM (SELECT doc_id,
               UNNEST(list_transform(range(1, greatest(length(text)-{SHINGLE_K - 1}, 1)+1),
                                     i -> text[i:i+{SHINGLE_K - 1}])) AS shingle
        FROM documents)
),
"""

_MINHASH_SIG_SQL = MINHASH_SHINGLES_CTE + minhash_sig_cte_sql() + "\n"


def lsh_bands_cte_sql(band_rows: int = BAND_ROWS, name: str = "bands") -> str:
    """The ``name`` CTE of LSH band-bucket memberships (doc_id, band_idx,
    band_hash) over a preceding ``sigs`` CTE — the ONE source of truth
    for the banding layout on the oracle side, built from
    operators/dedup's NUM_HASHES and ``band_rows`` exactly as
    operators/dedup.lsh_bands builds its Spark array: band b hashes
    md5(h{b*rows} || '|' || ... ) over its ``band_rows`` signature
    words."""
    hashes = [" || '|' || ".join(f"h{b * band_rows + r}"
                                 for r in range(band_rows))
              for b in range(NUM_HASHES // band_rows)]
    selects = [f"SELECT doc_id, 0 AS band_idx,\n"
               f"         md5({hashes[0]}) AS band_hash FROM sigs",
               *(f"UNION ALL SELECT doc_id, {b},\n         md5({h}) FROM sigs"
                 for b, h in enumerate(hashes[1:], 1))]
    return f"{name} AS (\n  " + "\n  ".join(selects) + "\n)"


def lsh_pairs_cte_sql(out: str) -> str:
    """SQL CTE chain for the uncapped LSH candidate pairs — the oracle
    mirror of operators/dedup.lsh_candidate_pairs: the ``bands`` CTE
    (:func:`lsh_bands_cte_sql`) and its bucket self-join, the pair CTE
    named ``out`` with DISTINCT (doc_a, doc_b), doc_a < doc_b. Appends
    to a query that already has ``sigs`` (from _MINHASH_SIG_SQL)."""
    return f"""
, {lsh_bands_cte_sql()},
{out} AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
)"""


def capped_pairs_cte_sql(cap: int, out: str) -> str:
    """SQL CTE chain for the SKEW-CAPPED LSH candidate pairs — the exact
    oracle mirror of operators/dedup.lsh_candidate_pairs_capped: the
    ``bands`` CTE (:func:`lsh_bands_cte_sql`, the same fragment the
    uncapped :func:`lsh_pairs_cte_sql` uses), then per (band_idx,
    band_hash) bucket, all-pairs among the first ``cap`` members (by
    doc_id) plus star edges from the bucket min to every member beyond
    the cap. Appends to a query that already has ``sigs`` (from
    _MINHASH_SIG_SQL); emits the pair CTE named ``out`` with
    (doc_a, doc_b), doc_a < doc_b. The capped graph preserves per-bucket
    connectivity, and is the DEFAULT input for the pre-dedup graph
    diagnostics (triangles, Adamic-Adar) whose cost grows with clique
    size on duplicate-heavy corpora (SKEW_PROBE.md: uncapped triangle
    exponent 2.14 adversarial vs 0.78 capped)."""
    return f"""
, {lsh_bands_cte_sql()},
ranked AS (
  SELECT doc_id, band_idx, band_hash,
         ROW_NUMBER() OVER (PARTITION BY band_idx, band_hash
                            ORDER BY doc_id) AS rk
  FROM bands
),
{out} AS (
  SELECT DISTINCT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM ranked a JOIN ranked b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
    WHERE a.rk <= {cap} AND b.rk <= {cap}
    UNION ALL
    SELECT m.doc_id AS doc_a, t.doc_id AS doc_b
    FROM ranked t JOIN ranked m
      ON m.band_idx = t.band_idx AND m.band_hash = t.band_hash
     AND m.rk = 1
    WHERE t.rk > {cap}
  )
)"""


@query("dedup_minhash_lsh", _MINHASH_SIG_SQL + lsh_pairs_cte_sql("pairs") + """
SELECT doc_a, doc_b FROM pairs
""")
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(8 hashes) + LSH(2 bands × 4 rows) near-duplicate candidate
    pairs over 5-char shingles. See operators/dedup.py for the scale story
    (signatures collapse docs before any join)."""
    d = t(spark, sf_dir, "documents")
    return lsh_candidate_pairs(minhash_signatures(char_shingles(d)))


@query("dedup_minhash_signatures", _MINHASH_SIG_SQL + """
SELECT doc_id, h0, h1, h2, h3, h4, h5, h6, h7 FROM sigs
""")
def dedup_minhash_signatures(spark, sf_dir):
    """The MinHash signature table itself (verifies the sketch, not just the
    pair output)."""
    d = t(spark, sf_dir, "documents")
    return minhash_signatures(char_shingles(d))


@query("dedup_ngram_jaccard", """
WITH grams AS (
  SELECT DISTINCT doc_id, shingle
  FROM (SELECT doc_id,
               UNNEST(list_transform(range(1, greatest(len(string_split(text,' '))-2, 1)+1),
                                     i -> array_to_string((string_split(text,' '))[i:i+2], ' ')))
               AS shingle
        FROM documents WHERE doc_id < 100)
),
counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM grams a JOIN grams b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, i.n_common,
       ca.n_sh AS n_a, cb.n_sh AS n_b,
       i.n_common / (ca.n_sh + cb.n_sh - i.n_common) AS jaccard
FROM inter i
JOIN counts ca ON ca.doc_id = i.doc_a
JOIN counts cb ON cb.doc_id = i.doc_b
WHERE i.n_common / (ca.n_sh + cb.n_sh - i.n_common) >= 0.02
""")
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard over a bounded candidate universe
    (doc_id < 100) — the verify stage of the dedup funnel. Threshold
    0.02: the synthetic corpus's top pair scores ~0.03 at sf0.01, and a
    verify stage whose oracle comparison matches on zero rows proves
    nothing (zero-row audit)."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    grams = word_ngrams(d, do_spread=False)
    return jaccard_pairs(grams, "doc_id", threshold=0.02)


_SIMHASH_BITS = 16


def _simhash_sql(bits: int, as_int: bool = False) -> str:
    """DuckDB mirror of operators/dedup.py:simhash_signatures at any
    fingerprint width — hash each token once (first bits/4 md5 hex digits
    -> one integer), then extract bits with shifts. ``as_int`` emits the
    fingerprint as a BIGINT (column ``sig``) instead of a '0'/'1' string
    (column ``simhash``) — the form XOR-multiprobe consumes."""
    hv = " + ".join(
        f"(instr('0123456789abcdef', substring(md5(tok), {d + 1}, 1)) - 1)"
        f" * {16 ** (bits // 4 - 1 - d)}"
        for d in range(bits // 4))
    votes = ",\n         ".join(
        f"SUM(((hv >> {bits - 1 - b}) % 2) * 2 - 1) AS v{b}"
        for b in range(bits))
    if as_int:
        final = " + ".join(
            f"(CASE WHEN v{b} > 0 THEN {1 << (bits - 1 - b)}::BIGINT"
            f" ELSE 0 END)" for b in range(bits)) + " AS sig"
    else:
        final = " || ".join(
            f"(CASE WHEN v{b} > 0 THEN '1' ELSE '0' END)"
            for b in range(bits)) + " AS simhash"
    return f"""
WITH toks AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
),
hashed AS (
  SELECT doc_id, {hv} AS hv FROM toks
),
votes AS (
  SELECT doc_id,
         {votes}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id, {final} FROM votes
"""


_SIMHASH_SQL = _simhash_sql(_SIMHASH_BITS)
# radius-2 multiprobe uses wider fingerprints (see dedup_simhash_hamming2)
_H2_BITS = 24


@query("dedup_simhash_signatures", _SIMHASH_SQL)
def dedup_simhash_signatures(spark, sf_dir):
    """SimHash fingerprints (16-bit, md5-derived — operators/dedup.py) per
    document; identical fingerprints are near-duplicate candidates."""
    d = t(spark, sf_dir, "documents")
    return simhash_signatures(d, "text", "doc_id", n_bits=_SIMHASH_BITS)


@query("dedup_simhash_pairs", f"""
WITH sigs AS ({_SIMHASH_SQL})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.simhash
FROM sigs a JOIN sigs b ON a.simhash = b.simhash AND a.doc_id < b.doc_id
""")
def dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-duplicate candidate pairs via equi-join on the
    fingerprint (scalable: joins fingerprints, never text)."""
    sigs = simhash_signatures(t(spark, sf_dir, "documents"), "text",
                              "doc_id", n_bits=_SIMHASH_BITS)
    a = sigs.alias("a")
    b = sigs.withColumnRenamed("doc_id", "doc_id_b").alias("b")
    return (a.join(b, (F.col("a.simhash") == F.col("b.simhash"))
                   & (F.col("a.doc_id") < F.col("b.doc_id_b")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id_b").alias("doc_b"),
                    F.col("a.simhash")))


@query("dedup_simhash_hamming1", f"""
WITH sigs AS ({_SIMHASH_SQL}),
probes AS (
  SELECT doc_id, simhash,
         CASE WHEN u.i = 0 THEN simhash
              ELSE substring(simhash, 1, u.i - 1) ||
                   (CASE WHEN substring(simhash, u.i, 1) = '1'
                         THEN '0' ELSE '1' END) ||
                   substring(simhash, u.i + 1)
         END AS probe
  FROM sigs, (SELECT UNNEST(range(0, {_SIMHASH_BITS + 1})) AS i) u
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM probes a JOIN sigs b ON a.probe = b.simhash AND a.doc_id < b.doc_id
""")
def dedup_simhash_hamming1(spark, sf_dir):
    """SimHash multiprobe: near-duplicate pairs within Hamming distance 1.

    Each doc emits its fingerprint plus all n_bits one-bit-flipped probes;
    an equi-join of probes against exact fingerprints finds every pair at
    distance ≤1 WITHOUT any pairwise distance computation — the multiprobe
    trick that keeps Hamming-radius search equi-joinable at corpus scale
    (probe volume is docs × (n_bits+1) small strings, never docs²).
    """
    sigs = simhash_signatures(t(spark, sf_dir, "documents"), "text",
                              "doc_id", n_bits=_SIMHASH_BITS)
    idx = F.explode(F.sequence(F.lit(0), F.lit(_SIMHASH_BITS))).alias("i")
    probes = sigs.select("doc_id", "simhash", idx).select(
        "doc_id",
        F.when(F.col("i") == 0, F.col("simhash")).otherwise(
            F.concat(
                F.expr("substring(simhash, 1, i - 1)"),
                F.when(F.expr("substring(simhash, i, 1)") == "1",
                       F.lit("0")).otherwise(F.lit("1")),
                F.expr("substring(simhash, i + 1)"))).alias("probe"))
    b = sigs.select(F.col("doc_id").alias("doc_b"),
                    F.col("simhash").alias("sig_b"))
    return (probes.join(b, (F.col("probe") == F.col("sig_b"))
                        & (F.col("doc_id") < F.col("doc_b")))
            .select(F.col("doc_id").alias("doc_a"), "doc_b")
            .distinct())


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

@query("text_quality_stats", """
SELECT doc_id,
       LENGTH(text) AS n_chars_m,
       LEN(string_split(text, ' ')) AS n_tokens,
       CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
         / LEN(string_split(text, ' ')) AS avg_token_len,
       CAST((LENGTH(text) - LENGTH(REPLACE(text, 'the', ''))) / 3 AS BIGINT)
         AS n_the,
       CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) AS BIGINT)
         AS n_spaces
FROM documents
""")
def text_quality_stats(spark, sf_dir):
    """Per-document quality features: char/token counts, mean token length,
    stopword occurrences, whitespace share. Pure JVM expressions — no UDF."""
    d = t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    no_space = F.replace(F.col("text"), F.lit(" "), F.lit(""))
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_m"),
        F.size(toks).cast("long").alias("n_tokens"),
        (F.length(no_space).cast("double") / F.size(toks))
        .alias("avg_token_len"),
        ((F.length("text")
          - F.length(F.replace(F.col("text"), F.lit("the"), F.lit("")))) / 3)
        .cast("long").alias("n_the"),
        (F.length("text") - F.length(no_space)).cast("long")
        .alias("n_spaces"))


@query("text_lang_id", """
WITH scored AS (
  SELECT doc_id, lang,
         (LENGTH(text) - LENGTH(REPLACE(text, ' the ', ''))) / 5 AS en_score,
         (LENGTH(text) - LENGTH(REPLACE(text, ' und ', ''))) / 5 AS de_score,
         (LENGTH(text) - LENGTH(REPLACE(text, ' et ', ''))) / 4 AS fr_score,
         (LENGTH(text) - LENGTH(REPLACE(text, ' el ', ''))) / 4 AS es_score
  FROM documents
)
SELECT doc_id, lang,
       CAST(en_score AS BIGINT) AS en_score, CAST(de_score AS BIGINT) AS de_score,
       CAST(fr_score AS BIGINT) AS fr_score, CAST(es_score AS BIGINT) AS es_score,
       CASE WHEN en_score >= GREATEST(de_score, fr_score, es_score) THEN 'en'
            WHEN de_score >= GREATEST(fr_score, es_score) THEN 'de'
            WHEN fr_score >= es_score THEN 'fr'
            ELSE 'es' END AS lang_pred
FROM scored
""")
def text_lang_id(spark, sf_dir):
    """Stopword-count language-ID heuristic (n-gram-free variant); a fixed
    priority order breaks score ties deterministically."""
    d = t(spark, sf_dir, "documents")

    def occ(token, width):
        return ((F.length("text")
                 - F.length(F.replace(F.col("text"), F.lit(token), F.lit(""))))
                / width)

    scored = d.select(
        "doc_id", "lang",
        occ(" the ", 5).alias("en_f"), occ(" und ", 5).alias("de_f"),
        occ(" et ", 4).alias("fr_f"), occ(" el ", 4).alias("es_f"))
    pred = (F.when(F.col("en_f") >= F.greatest("de_f", "fr_f", "es_f"), "en")
            .when(F.col("de_f") >= F.greatest("fr_f", "es_f"), "de")
            .when(F.col("fr_f") >= F.col("es_f"), "fr")
            .otherwise("es"))
    return scored.select(
        "doc_id", "lang",
        F.col("en_f").cast("long").alias("en_score"),
        F.col("de_f").cast("long").alias("de_score"),
        F.col("fr_f").cast("long").alias("fr_score"),
        F.col("es_f").cast("long").alias("es_score"),
        pred.alias("lang_pred"))


@query("text_token_count", """
SELECT doc_id,
       LEN(string_split(text, ' ')) AS ws_tokens,
       LEN(regexp_extract_all(text, '[a-z]+')) AS word_tokens,
       CAST(CEIL(LENGTH(text) / 4.0) AS BIGINT) AS bpe_est
FROM documents
""")
def text_token_count(spark, sf_dir):
    """Token counting: whitespace split, regex word tokens, and the standard
    chars/4 BPE estimate."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("ws_tokens"),
        F.regexp_count(F.col("text"), F.lit("[a-z]+")).cast("long")
        .alias("word_tokens"),
        F.ceil(F.length("text") / 4.0).alias("bpe_est"))


@query("text_fingerprint", """
WITH shingles AS (
  SELECT doc_id,
         UNNEST(list_transform(range(1, greatest(length(text)-7, 1)+1),
                               i -> text[i:i+7])) AS shingle
  FROM documents
)
SELECT doc_id,
       MIN(md5(shingle)) AS min_gram_hash,
       MAX(md5(shingle)) AS max_gram_hash,
       COUNT(DISTINCT shingle) AS n_distinct_grams
FROM shingles GROUP BY doc_id
""")
def text_fingerprint(spark, sf_dir):
    """Rolling 8-gram fingerprint (winnowing-style min/max hash selection +
    distinct-gram cardinality)."""
    from arangodb_java_parquet_spark.operators.dedup import spread
    d = spread(t(spark, sf_dir, "documents"))
    grams = F.expr("transform(sequence(1, greatest(length(text)-7, 1)),"
                   " i -> substring(text, i, 8))")
    return (d.select("doc_id", F.explode(grams).alias("shingle"))
            .groupBy("doc_id")
            .agg(F.min(F.md5("shingle")).alias("min_gram_hash"),
                 F.max(F.md5("shingle")).alias("max_gram_hash"),
                 F.countDistinct("shingle").alias("n_distinct_grams")))


@query("text_top_tokens", """
WITH toks AS (
  SELECT UNNEST(string_split(text, ' ')) AS tok
  FROM documents
)
SELECT tok, COUNT(*) AS freq
FROM toks
GROUP BY tok
ORDER BY freq DESC, tok
LIMIT 50
""")
def text_top_tokens(spark, sf_dir):
    """Corpus-wide token frequency top-50 (the vocabulary-building word
    count; explode -> map-side-combined count -> TakeOrdered)."""
    from arangodb_java_parquet_spark.operators.dedup import spread
    d = spread(t(spark, sf_dir, "documents"))
    return (d.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("freq"))
            .orderBy(F.desc("freq"), "tok")
            .limit(50))


@query("pipeline_clean_corpus", """
WITH stats AS (
  SELECT doc_id, text, lang,
         LEN(string_split(text, ' ')) AS n_tokens,
         LENGTH(text) AS n_chars
  FROM documents
),
filtered AS (
  SELECT * FROM stats
  WHERE n_tokens BETWEEN 20 AND 2000
    AND n_chars BETWEEN 100 AND 20000
    AND CAST(n_chars AS DOUBLE) / n_tokens BETWEEN 3.0 AND 12.0
),
deduped AS (
  SELECT md5(text) AS text_hash,
         MIN(doc_id) AS keep_id,
         MIN(lang) AS lang,
         MIN(n_tokens) AS n_tokens
  FROM filtered
  GROUP BY md5(text)
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM deduped
GROUP BY lang
""")
def pipeline_clean_corpus(spark, sf_dir):
    """End-to-end training-data prep pipeline in one plan: quality filter
    (token/char bounds, mean token length) -> exact dedup (keep min id) ->
    per-language corpus stats. The composition every LLM data pipeline
    runs, expressed as a single Catalyst plan: filters push to the scan,
    dedup shuffles hashes not text, stats are map-side combined."""
    d = t(spark, sf_dir, "documents")
    toks = F.size(F.split(F.col("text"), " "))
    stats = d.select(
        "doc_id", "text", "lang",
        toks.cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"))
    filtered = stats.filter(
        F.col("n_tokens").between(20, 2000)
        & F.col("n_chars").between(100, 20000)
        & (F.col("n_chars").cast("double") / F.col("n_tokens"))
        .between(3.0, 12.0))
    deduped = (filtered.groupBy(F.md5("text").alias("text_hash"))
               .agg(F.min("doc_id").alias("keep_id"),
                    F.min("lang").alias("lang"),
                    F.min("n_tokens").alias("n_tokens")))
    return (deduped.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens")))


@query("multimodal_binary_meta", """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS content_hash,
       source AS modality_tag
FROM documents
""")
def multimodal_binary_meta(spark, sf_dir):
    """Multimodal plumbing: treat content as an opaque binary column with
    typed metadata (size, content hash, modality tag). The decode /
    feature-extract stage for real image/audio bytes is the mapInPandas
    operator in operators/multimodal.py (stubbed decode, real plumbing)."""
    d = t(spark, sf_dir, "documents")
    binary = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.octet_length(binary).cast("long").alias("n_bytes"),
        F.md5("text").alias("content_hash"),
        F.col("source").alias("modality_tag"))


@query("multimodal_format_sniff", r"""
WITH p AS (
  SELECT doc_id,
         CASE doc_id % 5
           WHEN 0 THEN '\x89PNG\x0D\x0A\x1A\x0A'::BLOB
           WHEN 1 THEN '\xFF\xD8\xFF'::BLOB
           WHEN 2 THEN 'GIF89a'::BLOB
           WHEN 3 THEN 'BM'::BLOB
           ELSE 'RIFF\x00\x00\x00\x00WAVE'::BLOB
         END || encode(text) AS payload
  FROM documents
)
, h AS (SELECT doc_id, to_hex(payload) AS hx,
               octet_length(payload) AS n FROM p)
SELECT doc_id,
       CASE
         WHEN substring(hx, 1, 16) = '89504E470D0A1A0A' THEN 'png'
         WHEN substring(hx, 1, 6) = 'FFD8FF' THEN 'jpeg'
         WHEN substring(hx, 1, 12) IN ('474946383961', '474946383761')
           THEN 'gif'
         WHEN substring(hx, 1, 8) = '52494646'
          AND substring(hx, 17, 8) = '57415645' THEN 'wav'
         WHEN substring(hx, 1, 8) = '52494646' THEN 'riff-other'
         WHEN substring(hx, 1, 4) = '424D' THEN 'bmp'
         ELSE 'unknown'
       END AS detected_format,
       CAST(n AS BIGINT) AS n_bytes
FROM h
""")
def multimodal_format_sniff(spark, sf_dir):
    """CONTENT-TYPE SNIFFING over opaque binary payloads — the ingest
    triage every multimodal lake needs before routing to a decoder:
    classify each blob by its magic bytes (PNG / JPEG / GIF87a+89a /
    BMP / RIFF-WAVE vs other RIFF) with pure binary-substring
    expressions — no UDF, fully pushdown-friendly, and value-checked
    (payloads are synthesized deterministically by prefixing real magic
    numbers onto the text bytes, so both engines build byte-identical
    blobs). Misrouted payloads land in 'unknown'/'riff-other' instead
    of crashing a decoder — the loud-failure boundary
    operators/multimodal.py's real decoders then enforce."""
    d = t(spark, sf_dir, "documents")
    png = bytes.fromhex("89504E470D0A1A0A")
    hdr = (F.when(F.col("doc_id") % 5 == 0, F.lit(png))
           .when(F.col("doc_id") % 5 == 1, F.lit(b"\xFF\xD8\xFF"))
           .when(F.col("doc_id") % 5 == 2, F.lit(b"GIF89a"))
           .when(F.col("doc_id") % 5 == 3, F.lit(b"BM"))
           .otherwise(F.lit(b"RIFF\x00\x00\x00\x00WAVE")))
    payload = F.concat(hdr, F.encode(F.col("text"), "UTF-8"))

    # detection compares the UPPERCASE HEX prefix: DuckDB has no BLOB
    # substring, and hex() is byte-faithful + identical in both engines
    def is_(hexlit, start=1):
        return F.substring(F.col("hx"), start,
                           len(hexlit)) == F.lit(hexlit)

    return (d.select("doc_id", F.hex(payload).alias("hx"),
                     F.octet_length(payload).alias("n"))
            .select(
                "doc_id",
                F.when(is_("89504E470D0A1A0A"), "png")
                .when(is_("FFD8FF"), "jpeg")
                .when(is_("474946383961") | is_("474946383761"), "gif")
                .when(is_("52494646") & is_("57415645", start=17), "wav")
                .when(is_("52494646"), "riff-other")
                .when(is_("424D"), "bmp")
                .otherwise("unknown").alias("detected_format"),
                F.col("n").cast("bigint").alias("n_bytes")))


@query("dedup_simhash_hamming2", f"""
WITH sigs AS ({_simhash_sql(_H2_BITS, as_int=True)}),
masks AS (
  SELECT 0 AS m
  UNION ALL
  SELECT (1::BIGINT << i) FROM (SELECT UNNEST(range(0, {_H2_BITS})) AS i)
  UNION ALL
  SELECT (1::BIGINT << u.i) | (1::BIGINT << v.j)
  FROM (SELECT UNNEST(range(0, {_H2_BITS})) AS i) u,
       (SELECT UNNEST(range(0, {_H2_BITS})) AS j) v
  WHERE u.i < v.j
),
probes AS (
  SELECT doc_id, xor(sig, m) AS probe FROM sigs, masks
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM probes a JOIN sigs b ON a.probe = b.sig AND a.doc_id < b.doc_id
""")
def dedup_simhash_hamming2(spark, sf_dir):
    """SimHash multiprobe at Hamming radius 2 on INTEGER fingerprints:
    each doc emits sig XOR mask for every 0/1/2-bit mask ((n_bits choose
    2) + n_bits + 1 = 301 masks at 24 bits); probes equi-join against
    exact fingerprints, finding every pair within distance 2 with NO
    pairwise distance computation and NO string surgery (the XOR form is
    ~an order of magnitude cheaper per probe than bit-string editing).
    Probe volume is the standard multiprobe recall/cost dial and stays
    linear in corpus size. Radius 2 uses WIDER fingerprints (24 bits) than
    the radius-0/1 entries: in a 16-bit space a 2-bit ball covers so much
    of the corpus that matches are birthday noise."""
    sigs = simhash_signatures(t(spark, sf_dir, "documents"), "text",
                              "doc_id", n_bits=_H2_BITS)
    si = sigs.select("doc_id",
                     F.conv("simhash", 2, 10).cast("long").alias("sig"))
    masks = [0] + [1 << i for i in range(_H2_BITS)] + [
        (1 << i) | (1 << j)
        for i in range(_H2_BITS) for j in range(i + 1, _H2_BITS)]
    mask_arr = F.array(*[F.lit(m).cast("long") for m in masks])
    probes = (si.select("doc_id", "sig", F.explode(mask_arr).alias("m"))
              .select("doc_id",
                      F.col("m").bitwiseXOR(F.col("sig")).alias("probe")))
    b = si.select(F.col("doc_id").alias("doc_b"),
                  F.col("sig").alias("sig_b"))
    return (probes.join(b, (F.col("probe") == F.col("sig_b"))
                        & (F.col("doc_id") < F.col("doc_b")))
            .select(F.col("doc_id").alias("doc_a"), "doc_b")
            .distinct())


@query("dedup_fuzzy_levenshtein",
       _MINHASH_SIG_SQL + lsh_pairs_cte_sql("cand") + """
SELECT doc_a, doc_b,
       levenshtein(left(da.text, 80), left(db.text, 80)) AS edit_dist
FROM cand
JOIN documents da ON da.doc_id = doc_a
JOIN documents db ON db.doc_id = doc_b
WHERE levenshtein(left(da.text, 80), left(db.text, 80)) <= 40
""")
def dedup_fuzzy_levenshtein(spark, sf_dir):
    """Edit-distance verify stage of the dedup funnel: LSH candidate pairs
    (never all pairs — the quadratic stays bounded to band buckets) are
    re-checked with exact Levenshtein over an 80-char prefix and kept
    under a distance cap. Levenshtein is O(len^2) per pair — exactly the
    kind of expensive verifier the LSH funnel exists to shield; prefixing
    bounds the cost per pair. Both engines evaluate their native
    levenshtein (identical unit-cost DP definition)."""
    d = t(spark, sf_dir, "documents")
    sh = char_shingles(d)
    pairs = lsh_candidate_pairs(minhash_signatures(sh))
    da = d.select(F.col("doc_id").alias("doc_a"),
                  F.expr("left(text, 80)").alias("__ta"))
    db = d.select(F.col("doc_id").alias("doc_b"),
                  F.expr("left(text, 80)").alias("__tb"))
    # barrier the scored pairs BEFORE the distance filter: Catalyst
    # inlines the edit_dist alias into the filter and pushes it into the
    # pair join's CONDITION, so every candidate pair ran the O(80²) DP
    # once in the join and every survivor ran it AGAIN in the projection
    # (r15 plan audit; the §4.4 duplicated-evaluation trap, expression
    # flavor). The checkpoint pins one evaluation per pair; kind="barrier"
    # because this is a single-consumer pushdown block — reliable mode
    # must not 2x-replicate the full pre-threshold pair set (ADVICE r15).
    scored = (pairs.join(da, "doc_a").join(db, "doc_b")
              .select("doc_a", "doc_b",
                      F.levenshtein("__ta", "__tb").alias("edit_dist"))
              .transform(materialize, "barrier"))
    return (scored.filter(F.col("edit_dist") <= 40)
            .select("doc_a", "doc_b", "edit_dist"))


@query("simhash_bit_balance", f"""
WITH sigs AS ({_SIMHASH_SQL})
SELECT b.bit,
       CAST(SUM(CASE WHEN substring(simhash, b.bit + 1, 1) = '1'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_set,
       ROUND(SUM(CASE WHEN substring(simhash, b.bit + 1, 1) = '1'
                      THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 9)
         AS set_frac,
       ROUND(ABS(SUM(CASE WHEN substring(simhash, b.bit + 1, 1) = '1'
                          THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE)
                 - 0.5), 9) AS imbalance
FROM sigs CROSS JOIN (SELECT UNNEST(range(0, {_SIMHASH_BITS})) AS bit) b
GROUP BY b.bit
""")
def simhash_bit_balance(spark, sf_dir):
    """SKETCH-HEALTH diagnostic for SimHash: per-bit set fraction across
    the corpus. A healthy fingerprint has every bit near 0.5 (maximum
    discriminative entropy); a bit stuck near 0/1 contributes nothing
    to Hamming distances and halves the effective fingerprint width —
    the check to run before trusting multiprobe radii (the SimHash
    analog of ivf_cell_balance). One signature pass + a bounded
    bit-axis rollup."""
    from arangodb_java_parquet_spark.operators.dedup import (
        simhash_signatures)
    d = t(spark, sf_dir, "documents")
    sigs = simhash_signatures(d, "text", "doc_id")
    bits = sigs.select(F.posexplode(F.expr(
        f"transform(sequence(1, {_SIMHASH_BITS}),"
        " i -> substring(simhash, i, 1))")).alias("bit0", "ch"))
    frac = (F.sum(F.when(F.col("ch") == "1", 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"))
    return (bits.groupBy(F.col("bit0").alias("bit"))
            .agg(F.sum(F.when(F.col("ch") == "1", 1).otherwise(0))
                 .cast("bigint").alias("n_set"),
                 F.round(frac, 9).alias("set_frac"),
                 F.round(F.abs(frac - 0.5), 9).alias("imbalance")))
