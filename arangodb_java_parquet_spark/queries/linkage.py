"""Record-linkage / cross-corpus matching wave: blocked sorted-neighborhood
dedup (Hernandez & Stolfo 1995), Fellegi-Sunter probabilistic pair scoring
(Fellegi & Sunter 1969), and cross-language bitext candidate mining over
the embedding space (Artetxe & Schwenk 2019, threshold variant) — the
entity-resolution leg of a training-data pipeline, complementing the
MinHash/SimHash near-dup family (beyond-reference mandate; the reference
loader at /root/reference has no analytics surface).

Determinism: pairwise Jaccard/overlap ratios are integer-count divisions
(IEEE-identical); Fellegi-Sunter weights are ln() of exact integer ratios
computed identically at query time on both engines and summed in a fixed
order; cosine follows the repo-standard left-to-right double accumulation
with round-9 (queries/similarity.py).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from arangodb_java_parquet_spark.materialize import materialize
from arangodb_java_parquet_spark.operators.similarity import SRP_BITS
from arangodb_java_parquet_spark.queries.common import (
    query, sql_cos, srp_bucket_sql, t)

# ---------------------------------------------------------------------------
# blocked sorted-neighborhood dedup (SNM)
# ---------------------------------------------------------------------------

_SNM_WINDOW = 3          # compare each record to its next 3 sort neighbors
_SNM_JACCARD = 0.30      # verify threshold on distinct-token Jaccard

_SNM_SQL = f"""
WITH base AS (
  SELECT doc_id,
         substring(text, 1, 4) AS blk,
         substring(text, 1, 16) AS bk,
         list_distinct(string_split(text, ' ')) AS toks
  FROM documents
),
nb AS (
  SELECT doc_id, toks,
         LEAD(doc_id, 1) OVER w AS id1, LEAD(toks, 1) OVER w AS t1,
         LEAD(doc_id, 2) OVER w AS id2, LEAD(toks, 2) OVER w AS t2,
         LEAD(doc_id, 3) OVER w AS id3, LEAD(toks, 3) OVER w AS t3
  FROM base
  WINDOW w AS (PARTITION BY blk ORDER BY bk, doc_id)
),
pairs AS (
  SELECT doc_id AS a, id1 AS b, toks AS ta, t1 AS tb FROM nb WHERE id1 IS NOT NULL
  UNION ALL
  SELECT doc_id, id2, toks, t2 FROM nb WHERE id2 IS NOT NULL
  UNION ALL
  SELECT doc_id, id3, toks, t3 FROM nb WHERE id3 IS NOT NULL
),
scored AS (
  SELECT LEAST(a, b) AS doc_a, GREATEST(a, b) AS doc_b,
         len(list_intersect(ta, tb))
           / CAST(len(list_distinct(list_concat(ta, tb))) AS DOUBLE)
           AS jaccard
  FROM pairs
)
SELECT doc_a, doc_b, MAX(jaccard) AS jaccard
FROM scored
WHERE jaccard >= {_SNM_JACCARD}
GROUP BY doc_a, doc_b
"""


@query("dedup_sorted_neighborhood", _SNM_SQL)
def dedup_sorted_neighborhood(spark, sf_dir):
    """BLOCKED sorted-neighborhood dedup: records sorted by a textual key
    within coarse blocks; each record is compared only to its next
    ``_SNM_WINDOW`` sort neighbors, then verified by distinct-token
    Jaccard — the classic O(n·w) record-linkage alternative to LSH when
    near-duplicates share a lead (Hernandez & Stolfo, SIGMOD 1995).

    Scale: the window PARTITIONS BY a 4-char block, so no global
    single-partition sort ever forms — each block sorts independently
    (the unblocked textbook SNM needs a total order, which is exactly the
    anti-pattern a 1000-executor cluster cannot do). Cross-block seam
    pairs are forfeited by design, the same documented trade as
    dedup_boundary_overlap's shard seams. Jaccard is an integer-count
    ratio (IEEE-identical across engines), and each unordered pair keeps
    its MAX score (a pair can surface from two window offsets)."""
    d = t(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.substring("text", 1, 4).alias("blk"),
        F.substring("text", 1, 16).alias("bk"),
        F.array_distinct(F.split("text", " ")).alias("toks"))
    w = W.partitionBy("blk").orderBy("bk", "doc_id")
    nb = base.select(
        "doc_id", "toks",
        *[c for i in range(1, _SNM_WINDOW + 1) for c in (
            F.lead("doc_id", i).over(w).alias(f"id{i}"),
            F.lead("toks", i).over(w).alias(f"t{i}"))])
    legs = [nb.filter(F.col(f"id{i}").isNotNull())
            .select(F.col("doc_id").alias("a"),
                    F.col(f"id{i}").alias("b"),
                    F.col("toks").alias("ta"),
                    F.col(f"t{i}").alias("tb"))
            for i in range(1, _SNM_WINDOW + 1)]
    pairs = legs[0]
    for leg in legs[1:]:
        pairs = pairs.unionAll(leg)
    jac = (F.size(F.array_intersect("ta", "tb"))
           / F.size(F.array_union("ta", "tb")).cast("double"))
    return (pairs.select(F.least("a", "b").alias("doc_a"),
                         F.greatest("a", "b").alias("doc_b"),
                         jac.alias("jaccard"))
            .filter(F.col("jaccard") >= _SNM_JACCARD)
            .groupBy("doc_a", "doc_b")
            .agg(F.max("jaccard").alias("jaccard")))


# ---------------------------------------------------------------------------
# Fellegi-Sunter probabilistic record-pair scoring
# ---------------------------------------------------------------------------

# fixed (documented) conditional agreement probabilities: m_j = P(field j
# agrees | pair is a match), u_j = P(agrees | non-match). One-step scoring
# with pinned parameters (no EM) keeps the operator fully value-checkable.
# probabilities expressed as integer PERCENTAGES so both engines derive
# the weight doubles from exact integer ratios at query time (a 17-digit
# python double repr embedded as a SQL literal hit a DuckDB string->double
# parse that is off by one ulp for some values; ln() itself is
# libm-parity, relied on repo-wide since the BM25/entropy oracles).
_FS_FIELDS = [
    # (name, m_pct, u_pct)
    ("brand", 90, 20),  # brand agrees
    ("noun", 85, 10),   # name noun (2nd word) agrees
    ("price", 80, 30),  # retail price within 50
]
_FS_PCT = {name: (m, u, 100 - m, 100 - u) for name, m, u in _FS_FIELDS}


def _fs_w_sql(name: str) -> tuple[str, str]:
    m, u, nm, nu = _FS_PCT[name]
    return (f"ln(CAST({m} AS DOUBLE) / CAST({u} AS DOUBLE))",
            f"ln(CAST({nm} AS DOUBLE) / CAST({nu} AS DOUBLE))")

_FS_SQL = f"""
WITH base AS (
  SELECT p_partkey, p_type, p_brand, p_retailprice,
         (string_split(p_name, ' '))[2] AS name_noun,
         p_size // 10 AS size_blk
  FROM part
),
pairs AS (
  SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
         CASE WHEN a.p_brand = b.p_brand THEN 1 ELSE 0 END AS agree_brand,
         CASE WHEN a.name_noun = b.name_noun THEN 1 ELSE 0 END AS agree_noun,
         CASE WHEN ABS(a.p_retailprice - b.p_retailprice) < 50 THEN 1 ELSE 0 END
           AS agree_price
  FROM base a JOIN base b
    ON a.p_type = b.p_type AND a.size_blk = b.size_blk
   AND a.p_partkey < b.p_partkey
)
SELECT part_a, part_b, agree_brand, agree_noun, agree_price,
       (CASE WHEN agree_brand = 1 THEN {_fs_w_sql('brand')[0]}
             ELSE {_fs_w_sql('brand')[1]} END
        + CASE WHEN agree_noun = 1 THEN {_fs_w_sql('noun')[0]}
               ELSE {_fs_w_sql('noun')[1]} END
        + CASE WHEN agree_price = 1 THEN {_fs_w_sql('price')[0]}
               ELSE {_fs_w_sql('price')[1]} END) AS fs_score
FROM pairs
WHERE agree_brand + agree_noun + agree_price >= 2
"""


@query("linkage_fellegi_sunter", _FS_SQL)
def linkage_fellegi_sunter(spark, sf_dir):
    """Fellegi-Sunter probabilistic record linkage over blocked part
    pairs: candidate pairs form only inside (type, size-decade) blocks;
    each comparison field (brand, name noun, retail price proximity)
    contributes a log-likelihood weight ln(m/u) on agreement and
    ln((1-m)/(1-u)) on disagreement with pinned (m, u) parameters — the
    canonical match/non-match scorer behind every production
    entity-resolution system.

    Scale: pair formation is a block-keyed equi-self-join — pairs per
    block are quadratic in block size, so block keys must be chosen (or
    salted/capped, see operators/dedup.py lsh_candidate_pairs_capped) to
    bound occupancy; the weight sum is three fixed-order double-literal
    additions (IEEE-identical across engines, no libm calls at query
    time). Output keeps pairs agreeing on >= 2 fields."""
    p = t(spark, sf_dir, "part")
    base = p.select(
        "p_partkey", "p_type", "p_brand", "p_retailprice",
        F.split("p_name", " ").getItem(1).alias("name_noun"),
        F.expr("p_size div 10").alias("size_blk"))
    a, b = base.alias("a"), base.alias("b")
    agree_brand = F.when(F.col("a.p_brand") == F.col("b.p_brand"),
                         1).otherwise(0)
    agree_noun = F.when(F.col("a.name_noun") == F.col("b.name_noun"),
                        1).otherwise(0)
    agree_price = F.when(
        F.abs(F.col("a.p_retailprice") - F.col("b.p_retailprice")) < 50,
        1).otherwise(0)

    def w(flag_col, name):
        m, u, nm, nu = _FS_PCT[name]
        agree = F.log(F.lit(float(m)) / F.lit(float(u)))
        disagree = F.log(F.lit(float(nm)) / F.lit(float(nu)))
        return F.when(F.col(flag_col) == 1, agree).otherwise(disagree)

    pairs = (a.join(b, (F.col("a.p_type") == F.col("b.p_type"))
                    & (F.col("a.size_blk") == F.col("b.size_blk"))
                    & (F.col("a.p_partkey") < F.col("b.p_partkey")))
             .select(F.col("a.p_partkey").alias("part_a"),
                     F.col("b.p_partkey").alias("part_b"),
                     agree_brand.alias("agree_brand"),
                     agree_noun.alias("agree_noun"),
                     agree_price.alias("agree_price")))
    score = (w("agree_brand", "brand") + w("agree_noun", "noun")
             + w("agree_price", "price"))
    return (pairs
            .filter(F.col("agree_brand") + F.col("agree_noun")
                    + F.col("agree_price") >= 2)
            .select("part_a", "part_b", "agree_brand", "agree_noun",
                    "agree_price", score.alias("fs_score")))


# ---------------------------------------------------------------------------
# cross-language bitext candidate mining
# ---------------------------------------------------------------------------

_BITEXT_MIN_COS = 0.40
_BITEXT_TOPK = 2

_BITEXT_SQL = f"""
WITH e AS (
  SELECT d.doc_id, d.lang, emb.embedding,
         {srp_bucket_sql(SRP_BITS, 'emb.embedding')} AS bucket
  FROM documents d JOIN embeddings emb ON emb.vec_id = d.doc_id
),
pairs AS (
  SELECT a.doc_id AS doc_a, a.lang AS lang_a,
         b.doc_id AS doc_b, b.lang AS lang_b,
         {sql_cos('a.embedding', 'b.embedding')} AS cos_sim
  FROM e a JOIN e b
    ON a.bucket = b.bucket AND a.lang < b.lang
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_a
                               ORDER BY cos_sim DESC, doc_b) AS rn
  FROM pairs WHERE cos_sim >= {_BITEXT_MIN_COS}
)
SELECT doc_a, lang_a, doc_b, lang_b, cos_sim, rn
FROM ranked WHERE rn <= {_BITEXT_TOPK}
"""


@query("bitext_mining_candidates", _BITEXT_SQL)
def bitext_mining_candidates(spark, sf_dir):
    """Cross-language BITEXT candidate mining: documents in DIFFERENT
    languages whose embeddings are cosine-close are translation-pair
    candidates (the mining step behind CCMatrix/LASER-style parallel
    corpora; threshold variant of Artetxe & Schwenk 2019). SRP-LSH bucket
    equi-join replaces the all-pairs cross product; `lang_a < lang_b`
    keeps each unordered cross-lang pair once; per-source-doc top-2 by
    rounded cosine with doc_b as the unique tiebreak.

    Scale: same posture as emb_near_dup_pairs — bucketed join, norms
    computed once per side BELOW the pair join, candidate volume bounded
    by bucket occupancy (16 buckets here; production uses more bits +
    multiprobe)."""
    d = t(spark, sf_dir, "documents").select("doc_id", "lang")
    e = t(spark, sf_dir, "embeddings")
    joined = d.join(e, d["doc_id"] == e["vec_id"]).select(
        "doc_id", "lang", "embedding")
    from arangodb_java_parquet_spark.operators.similarity import (
        dot, norm, srp_bucket)
    # materialize: b feeds both self-join sides (the doc⋈embedding join +
    # srp/norm HOFs re-derive per side otherwise — non-canonicalizing) — r15
    b = (joined
         .withColumn("bucket", srp_bucket(F.col("embedding"), SRP_BITS))
         .withColumn("nrm", norm(F.col("embedding")))
         .transform(materialize))
    a = b.alias("a")
    c = (b.withColumnRenamed("doc_id", "doc_id_b")
         .withColumnRenamed("lang", "lang_b")
         .withColumnRenamed("embedding", "embedding_b")
         .withColumnRenamed("nrm", "nrm_b").alias("c"))
    cos = F.round(dot(F.col("a.embedding"), F.col("c.embedding_b"))
                  / F.nullif(F.col("a.nrm") * F.col("c.nrm_b"),
                             F.lit(0.0)), 9)
    # barrier the scored pairs BEFORE the threshold filter: Catalyst
    # inlines the cos_sim alias into the filter and pushes it into the
    # bucket join's residual CONDITION — one extra interpreted HOF dot
    # per candidate pair (r15 plan audit; the fuzzy-levenshtein
    # duplicated-evaluation class). kind="barrier": single consumer, so
    # reliable mode must not 2x-replicate the pre-threshold pairs
    # (ADVICE r15).
    pairs = (a.join(c, (F.col("a.bucket") == F.col("c.bucket"))
                    & (F.col("a.lang") < F.col("c.lang_b")))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("a.lang").alias("lang_a"),
                     F.col("c.doc_id_b").alias("doc_b"),
                     F.col("c.lang_b").alias("lang_b"),
                     cos.alias("cos_sim"))
             .transform(materialize, "barrier")
             .filter(F.col("cos_sim") >= _BITEXT_MIN_COS))
    w = W.partitionBy("doc_a").orderBy(F.desc("cos_sim"), "doc_b")
    return (pairs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _BITEXT_TOPK))


# ---------------------------------------------------------------------------
# PPJoin-style prefix-filtered set-similarity join (round 7)
# ---------------------------------------------------------------------------

# Jaccard threshold t = 7/10, kept as an integer ratio so every filter is
# integer-exact on both engines. (This synthetic corpus has a 31-token
# vocabulary, so documents are unusually similar — a production corpus
# would pair far more sparsely at the same threshold.)
_PPJ_T_NUM, _PPJ_T_DEN = 7, 10
# deterministic per-token cap on prefix posting lists (ordered by doc_id):
# a hot prefix token joins at most _PPJ_CAP docs — the same bounded-evidence
# contract as lsh_candidate_pairs_capped / dedup_substring_span. Without it
# a degenerate corpus (or a 100 TB one) turns one hot prefix token into a
# quadratic join (measured 88 s at sf0.1 uncapped on this corpus).
_PPJ_CAP = 64

_PPJ_SQL = f"""
WITH toksd AS (
  SELECT DISTINCT doc_id, UNNEST(string_split(text, ' ')) AS tok
  FROM documents
),
df AS (SELECT tok, COUNT(*) AS df FROM toksd GROUP BY tok),
sizes AS (SELECT doc_id, COUNT(*) AS s FROM toksd GROUP BY doc_id),
ranked AS (
  SELECT t.doc_id, t.tok, z.s,
         ROW_NUMBER() OVER (PARTITION BY t.doc_id
                            ORDER BY d.df ASC, t.tok ASC) AS p
  FROM toksd t JOIN df d USING (tok) JOIN sizes z USING (doc_id)
),
prefix AS (
  SELECT doc_id, tok, s FROM ranked
  WHERE p <= s - ({_PPJ_T_NUM} * s + {_PPJ_T_DEN} - 1) // {_PPJ_T_DEN} + 1
),
capped AS (
  SELECT doc_id, tok, s FROM (
    SELECT doc_id, tok, s,
           ROW_NUMBER() OVER (PARTITION BY tok ORDER BY doc_id) AS pr
    FROM prefix
  ) WHERE pr <= {_PPJ_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.s AS sa, b.s AS sb
  FROM capped a JOIN capped b ON a.tok = b.tok AND a.doc_id < b.doc_id
  WHERE {_PPJ_T_NUM} * b.s <= {_PPJ_T_DEN} * a.s
    AND {_PPJ_T_NUM} * a.s <= {_PPJ_T_DEN} * b.s
),
verified AS (
  SELECT c.doc_a, c.doc_b, c.sa, c.sb, COUNT(*) AS overlap
  FROM cand c
  JOIN toksd ta ON ta.doc_id = c.doc_a
  JOIN toksd tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b, sa, sb, CAST(overlap AS BIGINT) AS overlap,
       overlap / CAST(sa + sb - overlap AS DOUBLE) AS jaccard
FROM verified
WHERE {_PPJ_T_DEN} * overlap >= {_PPJ_T_NUM} * (sa + sb - overlap)
"""


@query("dedup_ppjoin_prefix", _PPJ_SQL)
def dedup_ppjoin_prefix(spark, sf_dir):
    """PPJoin-style PREFIX-FILTERED exact set-similarity join (Xiao et
    al., WWW 2008): tokens globally ordered rarest-first (df asc); each
    document's candidate-generating PREFIX is only its first
    s - ceil(t*s) + 1 tokens — two documents can reach Jaccard >= t ONLY
    if their prefixes share a token, so the pair join runs on the rare
    prefix tokens instead of the full posting lists. The length filter
    (t*|B| <= |A| <= |B|/t) prunes further before verification counts
    the exact overlap.

    This is the EXACT-answer counterpart to MinHash-LSH: no false
    negatives, with the quadratic blowup controlled by prefix rarity
    rather than banding probability. All thresholds are integer ratios
    (t = {_PPJ_T_NUM}/{_PPJ_T_DEN}), so every filter and the final
    Jaccard comparison are integer-exact on both engines.

    Scale: the prefix join shuffles only (rare-token, doc) pairs — hot
    tokens are excluded from prefixes by the df ordering precisely
    because they rank last; verification joins are bounded by candidate
    volume, and each prefix token's posting list is CAPPED at
    {_PPJ_CAP} docs (deterministic doc_id order, mirrored in the oracle)
    so a hot prefix token can never go quadratic — the bounded-evidence
    contract shared with lsh_candidate_pairs_capped. Pairs beyond the
    cap are forfeited: on a degenerate corpus the operator is a
    high-recall screen rather than an exact join."""
    d = t(spark, sf_dir, "documents")
    # toksd feeds df/sizes/ranked AND both verification sides; capped
    # feeds both join sides — checkpoint each once (eager=False) so the
    # explode->distinct lineage isn't re-derived per consumer (measured
    # 17 exchanges without).
    toksd = (d.select("doc_id",
                      F.explode(F.split("text", " ")).alias("tok"))
             .distinct().transform(materialize))
    df = toksd.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    sizes = toksd.groupBy("doc_id").agg(F.count(F.lit(1)).alias("s"))
    w = W.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("tok"))
    ranked = (toksd.join(df, "tok").join(sizes, "doc_id")
              .withColumn("p", F.row_number().over(w)))
    prefix_len = F.expr(
        f"s - ({_PPJ_T_NUM} * s + {_PPJ_T_DEN} - 1) div {_PPJ_T_DEN} + 1")
    prefix = (ranked.filter(F.col("p") <= prefix_len)
              .select("doc_id", "tok", "s"))
    wc = W.partitionBy("tok").orderBy("doc_id")
    capped = (prefix.withColumn("pr", F.row_number().over(wc))
              .filter(F.col("pr") <= _PPJ_CAP)
              .select("doc_id", "tok", "s")
              .transform(materialize))
    a = (capped.withColumnRenamed("doc_id", "doc_a")
         .withColumnRenamed("s", "sa"))
    b = (capped.withColumnRenamed("doc_id", "doc_b")
         .withColumnRenamed("s", "sb"))
    cand = (a.join(b, "tok")
            .filter((F.col("doc_a") < F.col("doc_b"))
                    & (_PPJ_T_NUM * F.col("sb") <= _PPJ_T_DEN * F.col("sa"))
                    & (_PPJ_T_NUM * F.col("sa") <= _PPJ_T_DEN * F.col("sb")))
            .select("doc_a", "doc_b", "sa", "sb").distinct())
    ta = toksd.withColumnRenamed("doc_id", "doc_a")
    tb = (toksd.withColumnRenamed("doc_id", "vdoc_b")
          .withColumnRenamed("tok", "tok_b"))
    verified = (cand.join(ta, "doc_a")
                .join(tb, (F.col("doc_b") == F.col("vdoc_b"))
                      & (F.col("tok") == F.col("tok_b")))
                .groupBy("doc_a", "doc_b", "sa", "sb")
                .agg(F.count(F.lit(1)).alias("overlap")))
    union_sz = F.col("sa") + F.col("sb") - F.col("overlap")
    return (verified
            .filter(_PPJ_T_DEN * F.col("overlap") >= _PPJ_T_NUM * union_sz)
            .select("doc_a", "doc_b", "sa", "sb",
                    F.col("overlap").cast("bigint").alias("overlap"),
                    (F.col("overlap") / union_sz.cast("double"))
                    .alias("jaccard")))


# ---------------------------------------------------------------------------
# fuzzy name matching over the deduplicated name domain (round 7)
# ---------------------------------------------------------------------------

_FUZZ_MAX_DIST = 4
_FUZZ_BAND = 5  # length-band width for blocking


@query("join_fuzzy_name_match", f"""
WITH names AS (
  SELECT p_name AS name, COUNT(*) AS n_parts,
         CAST(LENGTH(p_name) AS BIGINT) AS ln
  FROM part GROUP BY p_name
),
probe AS (
  SELECT name, n_parts, ln,
         UNNEST([ln // {_FUZZ_BAND} - 1, ln // {_FUZZ_BAND},
                 ln // {_FUZZ_BAND} + 1]) AS bucket
  FROM names
),
build AS (SELECT name, ln, ln // {_FUZZ_BAND} AS bucket FROM names),
pairs AS (
  SELECT p.name AS name_a, p.n_parts, b.name AS name_b,
         CAST(levenshtein(p.name, b.name) AS BIGINT) AS lev_dist
  FROM probe p JOIN build b ON p.bucket = b.bucket
  WHERE p.name != b.name AND ABS(p.ln - b.ln) <= {_FUZZ_MAX_DIST}
),
best AS (
  SELECT name_a, n_parts, name_b, lev_dist,
         ROW_NUMBER() OVER (PARTITION BY name_a
                            ORDER BY lev_dist ASC, name_b) AS rn
  FROM pairs WHERE lev_dist <= {_FUZZ_MAX_DIST}
)
SELECT name_a, CAST(n_parts AS BIGINT) AS n_parts, name_b, lev_dist
FROM best WHERE rn = 1
""")
def join_fuzzy_name_match(spark, sf_dir):
    """FUZZY string join: each part name's closest OTHER name by
    Levenshtein distance (<= {_FUZZ_MAX_DIST}) — the typo/variant
    matcher behind catalog reconciliation. Two scale moves the naive
    crossJoin-levenshtein misses: (1) the join runs over the
    DEDUPLICATED name domain (dedupe-before-join: 64 distinct names
    here stand in for 20k part rows; carry the multiplicity out as
    n_parts), and (2) candidate pairs form via LENGTH-BAND blocking —
    the probe side explodes to its 3 adjacent length buckets and
    equi-joins the build side's bucket, sound because edit distance
    >= length difference. Argmin per name with (dist, name) tiebreak;
    all comparisons integer-exact."""
    p = t(spark, sf_dir, "part")
    names = (p.groupBy(F.col("p_name").alias("name"))
             .agg(F.count(F.lit(1)).alias("n_parts"))
             .withColumn("ln", F.length("name").cast("bigint")))
    bucket = F.expr(f"ln div {_FUZZ_BAND}")
    probe = names.select(
        "name", "n_parts", "ln",
        F.explode(F.array(bucket - 1, bucket, bucket + 1)).alias("bucket"))
    build = names.select(F.col("name").alias("name_b"),
                         F.col("ln").alias("ln_b"),
                         bucket.alias("bucket"))
    pairs = (probe.join(build, "bucket")
             .filter((F.col("name") != F.col("name_b"))
                     & (F.abs(F.col("ln") - F.col("ln_b"))
                        <= _FUZZ_MAX_DIST))
             .select(F.col("name").alias("name_a"), "n_parts", "name_b",
                     F.levenshtein("name", "name_b").cast("bigint")
                     .alias("lev_dist"))
             .filter(F.col("lev_dist") <= _FUZZ_MAX_DIST))
    wr = W.partitionBy("name_a").orderBy(F.asc("lev_dist"), "name_b")
    return (pairs.withColumn("rn", F.row_number().over(wr))
            .filter(F.col("rn") == 1)
            .select("name_a", F.col("n_parts").cast("bigint")
                    .alias("n_parts"), "name_b", "lev_dist"))
