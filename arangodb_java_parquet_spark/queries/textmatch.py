"""Token-level exact-overlap spans and n-gram language identification —
the two text-forensics operators a curation pipeline runs after candidate
generation: "HOW MUCH do these near-dup candidates actually share?" and
"is this document's language label trustworthy?".

Scale notes (100 TB): the substring-span operator runs only on LSH
CANDIDATE pairs (never all-pairs) and joins compact (doc, pos, md5) gram
rows — the diagonal run-length trick turns longest-common-substring, a
classically quadratic DP, into one equi-join + one window + two
aggregations. Language-ID broadcasts a bounded profile table (n_langs ×
top-K trigrams); the corpus explodes each document once and aggregates
map-side.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from arangodb_java_parquet_spark.materialize import materialize
from arangodb_java_parquet_spark.operators.dedup import (
    char_shingles, lsh_candidate_pairs, minhash_signatures, spread)
from arangodb_java_parquet_spark.queries.common import query, t
from arangodb_java_parquet_spark.queries.text_pipeline import (
    _MINHASH_SIG_SQL, lsh_pairs_cte_sql)

# ---------------------------------------------------------------------------
# longest shared token run per candidate pair (Lee et al. 2022-style exact
# substring dedup, bounded to the LSH candidate set)
# ---------------------------------------------------------------------------

_SPAN_SQL = _MINHASH_SIG_SQL + lsh_pairs_cte_sql("pairs") + """,
grams AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string((string_split(text, ' '))[i:i+2], ' ')) AS gh
  FROM (SELECT doc_id, text,
               UNNEST(range(1, len(string_split(text, ' ')) - 2 + 1)) AS i
        FROM documents WHERE len(string_split(text, ' ')) >= 3)
),
hits AS (
  SELECT p.doc_a, p.doc_b, ga.pos AS i, gb.pos AS j
  FROM pairs p
  JOIN grams ga ON ga.doc_id = p.doc_a
  JOIN grams gb ON gb.doc_id = p.doc_b AND gb.gh = ga.gh
),
runs AS (
  SELECT doc_a, doc_b, j - i AS d, i,
         i - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, j - i
                                ORDER BY i) AS grp
  FROM hits
),
spans AS (
  SELECT doc_a, doc_b, COUNT(*) AS run_grams
  FROM runs GROUP BY doc_a, doc_b, d, grp
)
SELECT doc_a, doc_b,
       CAST(MAX(run_grams) AS BIGINT) AS longest_run_grams,
       CAST(MAX(run_grams) + 2 AS BIGINT) AS longest_shared_tokens
FROM spans GROUP BY doc_a, doc_b
"""


@query("dedup_substring_span", _SPAN_SQL)
def dedup_substring_span(spark, sf_dir):
    """Longest EXACT shared token run per LSH candidate pair — the
    substring-level evidence behind 'deduplicate repeated spans, not just
    whole documents' (Lee et al. 2022). Classic LCS is an O(n·m) DP per
    pair; relationally it collapses to: join the pairs' positional token
    3-grams on gram hash, group hits by DIAGONAL (j - i, constant along
    any shared contiguous run), and measure maximal consecutive-i runs
    with the i - row_number() trick. A run of L 3-grams = L+2 shared
    tokens. Candidates come from the standard MinHash/LSH stage, so the
    join is bounded by the candidate set; gram rows are (id, pos, md5) —
    documents themselves never shuffle."""
    d = t(spark, sf_dir, "documents")
    sh = char_shingles(d)
    cand = lsh_candidate_pairs(minhash_signatures(sh))

    toks = F.split("text", " ")
    gram_arr = F.expr(
        "transform(sequence(1, size(split(text, ' ')) - 2),"
        " i -> md5(array_join(slice(split(text, ' '), i, 3), ' ')))")
    # spread: the gram explode+md5 otherwise runs in the one-task scan
    # stage; materialize: grams feeds BOTH pair-join sides (lambda-HOF
    # lineage never canonicalizes to a ReusedExchange) — r15
    grams = (spread(d.filter(F.size(toks) >= 3))
             .select("doc_id", F.posexplode(gram_arr).alias("p0", "gh"))
             .select("doc_id", (F.col("p0") + 1).alias("pos"), "gh")
             .transform(materialize))

    hits = (cand
            .join(grams.select(F.col("doc_id").alias("doc_a"),
                               F.col("pos").alias("i"), "gh"), "doc_a")
            .join(grams.select(F.col("doc_id").alias("doc_b"),
                               F.col("pos").alias("j"), "gh"),
                  ["doc_b", "gh"]))
    runs = hits.select(
        "doc_a", "doc_b",
        (F.col("j") - F.col("i")).alias("d"), "i",
        (F.col("i") - F.row_number().over(
            W.partitionBy("doc_a", "doc_b", F.col("j") - F.col("i"))
            .orderBy("i"))).alias("grp"))
    spans = (runs.groupBy("doc_a", "doc_b", "d", "grp")
             .agg(F.count(F.lit(1)).alias("run_grams")))
    return (spans.groupBy("doc_a", "doc_b")
            .agg(F.max("run_grams").alias("longest_run_grams"),
                 (F.max("run_grams") + F.lit(2)).cast("bigint")
                 .alias("longest_shared_tokens"))
            .withColumn("longest_run_grams",
                        F.col("longest_run_grams").cast("bigint")))


# ---------------------------------------------------------------------------
# char-trigram language identification + confusion matrix
# ---------------------------------------------------------------------------

_LANGID_TOPK = 25

_LANGID_SQL = f"""
WITH train AS (
  SELECT lang, text FROM documents WHERE doc_id % 10 < 8
),
tri_train AS (
  SELECT lang, text[i:i+2] AS gram
  FROM (SELECT lang, text, UNNEST(range(1, length(text) - 2 + 1)) AS i
        FROM train WHERE length(text) >= 3)
),
prof AS (
  SELECT lang, gram FROM (
    SELECT lang, gram, COUNT(*) AS c,
           ROW_NUMBER() OVER (PARTITION BY lang
                              ORDER BY COUNT(*) DESC, gram ASC) AS rn
    FROM tri_train GROUP BY lang, gram
  ) WHERE rn <= {_LANGID_TOPK}
),
held AS (
  SELECT doc_id, lang AS actual_lang, text
  FROM documents WHERE doc_id % 10 >= 8 AND length(text) >= 3
),
tri_doc AS (
  SELECT DISTINCT doc_id, text[i:i+2] AS gram
  FROM (SELECT doc_id, text, UNNEST(range(1, length(text) - 2 + 1)) AS i
        FROM held)
),
scores AS (
  SELECT d.doc_id, p.lang, COUNT(*) AS n_hits
  FROM tri_doc d JOIN prof p ON p.gram = d.gram
  GROUP BY d.doc_id, p.lang
),
pred AS (
  SELECT doc_id, lang AS predicted_lang FROM (
    SELECT doc_id, lang,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY n_hits DESC, lang ASC) AS rn
    FROM scores
  ) WHERE rn = 1
)
SELECT h.actual_lang,
       COALESCE(p.predicted_lang, '??') AS predicted_lang,
       COUNT(*) AS n_docs
FROM held h LEFT JOIN pred p ON p.doc_id = h.doc_id
GROUP BY 1, 2
"""


@query("langid_trigram_confusion", _LANGID_SQL)
def langid_trigram_confusion(spark, sf_dir):
    """N-gram language-ID, the classic textcat/CLD heuristic as pure
    relational algebra: fit top-K character-trigram profiles per language
    on a deterministic train split, predict each held-out document's
    language by profile-overlap argmax (ties broken lang-asc), and emit
    the actual × predicted confusion matrix — the audit table that tells
    a curation pipeline whether its `lang` column can be trusted. On this
    synthetic corpus the text is language-independent word salad, so the
    matrix is near-uniform BY CONSTRUCTION — the operator mechanics
    (bounded broadcast profiles, one doc-gram explode, two combinable
    aggregations, deterministic argmax) are what is under test; on real
    multilingual data the same plan yields the standard >0.99-diagonal
    matrix. Scale: profiles are n_langs × K rows broadcast; documents
    explode once and never shuffle whole."""
    d = spread(t(spark, sf_dir, "documents"))  # r15: trigram explodes
    # for train AND held-out otherwise run in the one-task scan stage
    tri = F.expr("transform(sequence(1, length(text) - 2),"
                 " i -> substring(text, i, 3))")

    train = d.filter((F.col("doc_id") % 10 < 8) & (F.length("text") >= 3))
    tri_train = train.select("lang", F.explode(tri).alias("gram"))
    prof = (tri_train.groupBy("lang", "gram")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("rn", F.row_number().over(
                W.partitionBy("lang").orderBy(F.desc("c"), F.asc("gram"))))
            .filter(F.col("rn") <= _LANGID_TOPK)
            .select("lang", "gram"))

    held = d.filter((F.col("doc_id") % 10 >= 8) & (F.length("text") >= 3)) \
        .select("doc_id", F.col("lang").alias("actual_lang"), "text")
    tri_doc = (held.select("doc_id", F.explode(tri).alias("gram"))
               .distinct())
    scores = (tri_doc.join(F.broadcast(prof), "gram")
              .groupBy("doc_id", "lang")
              .agg(F.count(F.lit(1)).alias("n_hits")))
    pred = (scores.withColumn("rn", F.row_number().over(
                W.partitionBy("doc_id")
                .orderBy(F.desc("n_hits"), F.asc("lang"))))
            .filter(F.col("rn") == 1)
            .select("doc_id", F.col("lang").alias("predicted_lang")))
    return (held.join(pred, "doc_id", "left")
            .groupBy("actual_lang",
                     F.coalesce("predicted_lang", F.lit("??"))
                     .alias("predicted_lang"))
            .agg(F.count(F.lit(1)).alias("n_docs")))


# ---------------------------------------------------------------------------
# BPE-style pair-merge fitting (the tokenizer-training inner loop)
# ---------------------------------------------------------------------------

_BPE_STEPS = 3


def _bpe_chain_sql(k: int) -> str:
    """Generate the chained-CTE DuckDB oracle for k greedy merge steps —
    one block per step (adjacent-pair count -> argmax -> greedy
    left-to-right application via run parity), all derived from the same
    template so Spark and oracle cannot drift."""
    parts = ["""WITH s0 AS (
  SELECT doc_id, i, tok FROM (
    SELECT doc_id,
           UNNEST(string_split(text, ' ')) AS tok,
           UNNEST(range(0, len(string_split(text, ' ')))) AS i
    FROM documents)
)"""]
    for s in range(1, k + 1):
        parts.append(f""",
p{s} AS (
  SELECT doc_id, i, tok,
         lead(tok) OVER (PARTITION BY doc_id ORDER BY i) AS nxt
  FROM s{s - 1}
),
b{s} AS (
  SELECT tok AS a, nxt AS b, COUNT(*) AS c
  FROM p{s} WHERE nxt IS NOT NULL
  GROUP BY 1, 2 ORDER BY c DESC, a ASC, b ASC LIMIT 1
),
m{s} AS (
  SELECT doc_id, i FROM (
    SELECT doc_id, i,
           ROW_NUMBER() OVER (PARTITION BY doc_id, grp ORDER BY i) % 2
             AS odd
    FROM (SELECT p.doc_id, p.i,
                 p.i - ROW_NUMBER() OVER (PARTITION BY p.doc_id
                                          ORDER BY p.i) AS grp
          FROM p{s} p, b{s} b
          WHERE p.tok = b.a AND p.nxt = b.b)
  ) WHERE odd = 1
),
s{s} AS (
  SELECT p.doc_id,
         ROW_NUMBER() OVER (PARTITION BY p.doc_id ORDER BY p.i) - 1 AS i,
         CASE WHEN mm.i IS NOT NULL THEN p.tok || '_' || p.nxt
              ELSE p.tok END AS tok
  FROM p{s} p
  LEFT JOIN m{s} mm ON mm.doc_id = p.doc_id AND mm.i = p.i
  LEFT JOIN m{s} mp ON mp.doc_id = p.doc_id AND mp.i = p.i - 1
  WHERE mp.i IS NULL
)""")
    return "".join(parts)


def _bpe_oracle_finals(k: int) -> str:
    finals = "\nUNION ALL\n".join(
        f"SELECT {s} AS step, a || ' ' || b AS pair, c AS n_occurrences "
        f"FROM b{s}" for s in range(1, k + 1))
    return _bpe_chain_sql(k) + "\n" + finals


def _bpe_apply_sql(k: int) -> str:
    """Same chained merge template, aggregated as the per-source
    tokenizer COMPRESSION report over the final merged state s{k}."""
    return _bpe_chain_sql(k) + f""",
before AS (SELECT doc_id, COUNT(*) AS nb FROM s0 GROUP BY doc_id),
after AS (SELECT doc_id, COUNT(*) AS na FROM s{k} GROUP BY doc_id)
SELECT d.source, COUNT(*) AS n_docs,
       CAST(SUM(b.nb) AS BIGINT) AS tokens_before,
       CAST(SUM(a.na) AS BIGINT) AS tokens_after,
       ROUND(SUM(a.na) / CAST(SUM(b.nb) AS DOUBLE), 9)
         AS compression_ratio
FROM documents d
JOIN before b ON b.doc_id = d.doc_id
JOIN after a ON a.doc_id = d.doc_id
GROUP BY d.source
"""


@query("bpe_pair_merge_fit", _bpe_oracle_finals(_BPE_STEPS))
def bpe_pair_merge_fit(spark, sf_dir):
    """BPE tokenizer training's inner loop, fitted IN the engine: K
    greedy rounds of (count adjacent symbol pairs -> take the most
    frequent -> merge its occurrences left-to-right), here over word
    symbols (mechanics identical to char-level BPE; '_' is the joiner).
    The classically sequential greedy application — a position merges
    only if its left neighbor didn't — is exact relationally: candidate
    positions form consecutive runs per document, and greedy
    left-to-right = keeping the ODD ranks within each run (the
    i - row_number() run trick again). Each round is one window + one
    argmax + one bounded driver collect (a single 3-field row — the
    learned merge, exactly what a tokenizer trainer persists);
    localCheckpoint keeps plan depth constant like the PageRank loop.
    Returns the learned merge table (step, pair, n_occurrences); the
    DuckDB oracle replays the identical K rounds as chained CTEs."""
    state, learned = _bpe_fit(spark, sf_dir)
    return spark.createDataFrame(
        learned, "step int, pair string, n_occurrences bigint")


def _bpe_fit(spark, sf_dir):
    """Shared BPE merge loop (single source of truth for the fit AND the
    apply/compression report, mirroring the generated oracle chain).
    Returns (final merged state (doc_id, i, tok), learned merge Rows)."""
    from pyspark.sql import Row

    d = spread(t(spark, sf_dir, "documents"))  # r15: step-1 explode +
    # window otherwise pay the one-task scan stage
    state = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("i", "tok"))
    learned = []
    for step in range(1, _BPE_STEPS + 1):
        state = state.transform(materialize, "iter", True)
        pairs = state.withColumn(
            "nxt", F.lead("tok").over(
                W.partitionBy("doc_id").orderBy("i")))
        best = (pairs.filter(F.col("nxt").isNotNull())
                .groupBy("tok", "nxt")
                .agg(F.count(F.lit(1)).alias("c"))
                .orderBy(F.desc("c"), F.asc("tok"), F.asc("nxt"))
                .first())
        a, b, c = best["tok"], best["nxt"], best["c"]
        learned.append(Row(step=step, pair=f"{a} {b}", n_occurrences=c))
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
        state = (pairs
                 .join(merge, ["doc_id", "i"], "left")
                 .join(merge.select("doc_id",
                                    (F.col("i") + 1).alias("i"),
                                    F.col("m").alias("prev_m")),
                       ["doc_id", "i"], "left")
                 .filter(F.col("prev_m").isNull())
                 .select("doc_id", F.col("i").alias("i_old"),
                         F.when(F.col("m"),
                                F.concat_ws("_", "tok", "nxt"))
                         .otherwise(F.col("tok")).alias("tok"))
                 .withColumn("i", F.row_number().over(
                     W.partitionBy("doc_id").orderBy("i_old")) - 1)
                 .select("doc_id", "i", "tok"))
    return state, learned


@query("bpe_apply_compression", _bpe_apply_sql(_BPE_STEPS))
def bpe_apply_compression(spark, sf_dir):
    """Tokenizer APPLY stage: the fitted merges' effect on the corpus —
    per-source token counts before/after the K merges and the
    compression ratio (the number a tokenizer team actually tracks when
    sizing a vocab). The final merged state of the shared fit loop
    (_bpe_fit) IS the encoded corpus, so apply costs nothing beyond the
    fit; the oracle replays the identical chained-CTE template with a
    per-source aggregation final. Completes the BPE story:
    bpe_pair_merge_fit learns the merges, this reports their yield."""
    state, _learned = _bpe_fit(spark, sf_dir)
    d = t(spark, sf_dir, "documents").select("doc_id", "source")
    before = (t(spark, sf_dir, "documents")
              .select("doc_id",
                      F.size(F.split("text", " ")).alias("nb")))
    after = state.groupBy("doc_id").agg(F.count(F.lit(1)).alias("na"))
    return (d.join(before, "doc_id").join(after, "doc_id")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("nb").cast("bigint").alias("tokens_before"),
                 F.sum("na").cast("bigint").alias("tokens_after"),
                 F.round(F.sum("na") / F.sum("nb").cast("double"), 9)
                 .alias("compression_ratio")))


# ---------------------------------------------------------------------------
# intra-document repeated-span REMOVAL (the transformation, not just the
# signal)
# ---------------------------------------------------------------------------

_INTRA_SQL = """
WITH toks AS (
  SELECT doc_id, i, tok FROM (
    SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok,
           UNNEST(range(1, len(string_split(text, ' ')) + 1)) AS i
    FROM documents WHERE len(string_split(text, ' ')) >= 3)
),
grams AS (
  SELECT doc_id, i,
         md5(array_to_string((string_split(text, ' '))[i:i+2], ' ')) AS gh
  FROM (SELECT doc_id, text,
               UNNEST(range(1, len(string_split(text, ' ')) - 2 + 1)) AS i
        FROM documents WHERE len(string_split(text, ' ')) >= 3)
),
firsts AS (SELECT doc_id, gh, MIN(i) AS first_i FROM grams GROUP BY 1, 2),
dup_starts AS (
  SELECT g.doc_id, g.i FROM grams g
  JOIN firsts f ON f.doc_id = g.doc_id AND f.gh = g.gh AND g.i > f.first_i
),
covered AS (
  SELECT DISTINCT doc_id, i + off AS p
  FROM dup_starts CROSS JOIN UNNEST([0, 1, 2]) AS t(off)
),
kept AS (
  SELECT t.doc_id, t.i, t.tok
  FROM toks t
  LEFT JOIN covered c ON c.doc_id = t.doc_id AND c.p = t.i
  WHERE c.p IS NULL
),
before AS (SELECT doc_id, COUNT(*) AS n_before FROM toks GROUP BY doc_id)
SELECT b.doc_id, b.n_before,
       b.n_before - COUNT(k.i) AS n_removed,
       COALESCE(substring(array_to_string(array_agg(k.tok ORDER BY k.i)
                                          FILTER (WHERE k.i IS NOT NULL),
                                          ' '),
                          1, 150), '') AS cleaned_prefix
FROM before b LEFT JOIN kept k ON k.doc_id = b.doc_id
GROUP BY b.doc_id, b.n_before
"""


@query("dedup_intradoc_spans", _INTRA_SQL)
def dedup_intradoc_spans(spark, sf_dir):
    """Intra-document repeated-span REMOVAL — the transformation behind
    'dedupe repeated spans, not just docs' applied within each document
    (boilerplate/template churn): any token covered by a 3-gram whose
    identical gram occurred EARLIER in the same document is dropped, and
    the survivors re-assemble in order. Pure set logic (first-occurrence
    table, duplicate-start join, coverage explode, anti-join) + one
    ordered re-aggregation per doc — everything keyed by doc_id, so at
    100 TB no cross-document shuffle exists at all. Output keeps counts
    plus a 150-char cleaned prefix (value-checked) rather than shipping
    whole texts through the compare."""
    d = spread(t(spark, sf_dir, "documents")).filter(
        F.size(F.split("text", " ")) >= 3)  # r15: both explodes below
    # otherwise run in the one-task scan stage
    # toks feeds the anti-join AND the per-doc total; grams feeds the
    # first-occurrence agg AND the duplicate-start join. Neither lineage
    # canonicalizes to a ReusedExchange (posexplode over a lambda-HOF
    # gram array), so materialize each once (VERDICT r12 #4) instead of
    # re-running the explode per consumer.
    toks = (d.select("doc_id",
                     F.posexplode(F.split("text", " ")).alias("p0", "tok"))
            .select("doc_id", (F.col("p0") + 1).alias("i"), "tok")
            .transform(materialize))
    gram_arr = F.expr(
        "transform(sequence(1, size(split(text, ' ')) - 2),"
        " i -> md5(array_join(slice(split(text, ' '), i, 3), ' ')))")
    grams = (d.select("doc_id", F.posexplode(gram_arr).alias("p0", "gh"))
             .select("doc_id", (F.col("p0") + 1).alias("i"), "gh")
             .transform(materialize))
    firsts = grams.groupBy("doc_id", "gh").agg(F.min("i").alias("first_i"))
    dup_starts = (grams.join(firsts, ["doc_id", "gh"])
                  .filter(F.col("i") > F.col("first_i"))
                  .select("doc_id", "i"))
    covered = (dup_starts
               .select("doc_id",
                       F.explode(F.array(F.lit(0), F.lit(1), F.lit(2)))
                       .alias("off"), "i")
               .select("doc_id", (F.col("i") + F.col("off")).alias("p"))
               .distinct())
    kept = toks.join(covered,
                     (toks.doc_id == covered.doc_id)
                     & (toks.i == covered.p), "left_anti")
    before = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_before"))
    agg = (kept.groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("n_kept"),
                F.substring(
                    F.array_join(
                        F.expr("transform(array_sort(collect_list("
                               "struct(i, tok))), s -> s.tok)"), " "),
                    1, 150).alias("cleaned_prefix")))
    return (before.join(agg, "doc_id", "left")
            .select("doc_id", "n_before",
                    (F.col("n_before") - F.coalesce("n_kept", F.lit(0)))
                    .alias("n_removed"),
                    F.coalesce("cleaned_prefix", F.lit(""))
                    .alias("cleaned_prefix")))


# ---------------------------------------------------------------------------
# multinomial Naive Bayes, fitted AND evaluated in the engine
# ---------------------------------------------------------------------------

_NB_CORE_SQL = """
WITH train AS (
  SELECT lang, text FROM documents WHERE doc_id % 10 < 8
),
toks AS (
  SELECT lang, UNNEST(string_split(text, ' ')) AS tok FROM train
),
class_tot AS (
  SELECT lang, COUNT(*) AS n_toks FROM toks GROUP BY lang
),
vocab AS (SELECT COUNT(DISTINCT tok) AS v FROM toks),
priors AS (
  SELECT lang,
         ROUND(ln(CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE)), 9)
           AS log_prior
  FROM (SELECT lang, COUNT(*) AS n_docs FROM train GROUP BY lang)
  CROSS JOIN (SELECT COUNT(*) AS total FROM train)
),
ll AS (
  SELECT tc.lang, tc.tok,
         ROUND(ln((CAST(tc.c AS DOUBLE) + 1.0e0)
                  / (CAST(ct.n_toks AS DOUBLE) + CAST(v.v AS DOUBLE))), 9)
           AS logp
  FROM (SELECT lang, tok, COUNT(*) AS c FROM toks GROUP BY lang, tok) tc
  JOIN class_tot ct ON ct.lang = tc.lang
  CROSS JOIN vocab v
),
floors AS (
  SELECT ct.lang,
         ROUND(ln(1.0e0 / (CAST(ct.n_toks AS DOUBLE)
                           + CAST(v.v AS DOUBLE))), 9) AS floor_logp
  FROM class_tot ct CROSS JOIN vocab v
),
held AS (
  SELECT doc_id, lang AS actual_lang,
         UNNEST(string_split(text, ' ')) AS tok
  FROM documents WHERE doc_id % 10 >= 8
),
scored AS (
  SELECT h.doc_id, MAX(h.actual_lang) AS actual_lang, f.lang,
         CAST(SUM(CAST(COALESCE(ll.logp, f.floor_logp) AS DECIMAL(20,9)))
              AS DOUBLE) AS ll_sum
  FROM held h
  JOIN floors f ON TRUE
  LEFT JOIN ll ON ll.lang = f.lang AND ll.tok = h.tok
  GROUP BY h.doc_id, f.lang
)
"""

_NB_SQL = _NB_CORE_SQL + """
, pred AS (
  SELECT doc_id, actual_lang, lang AS predicted_lang FROM (
    SELECT s.doc_id, s.actual_lang, s.lang,
           ROW_NUMBER() OVER (
             PARTITION BY s.doc_id
             ORDER BY ROUND(s.ll_sum + p.log_prior, 9) DESC, s.lang ASC)
             AS rn
    FROM scored s JOIN priors p ON p.lang = s.lang
  ) WHERE rn = 1
)
SELECT actual_lang, predicted_lang, COUNT(*) AS n_docs
FROM pred GROUP BY 1, 2
"""


@query("nb_classifier_confusion", _NB_SQL)
def nb_classifier_confusion(spark, sf_dir):
    """Multinomial NAIVE BAYES fitted AND evaluated inside the engine:
    Laplace-smoothed token log-likelihoods + class log-priors on a
    deterministic train split, per-document log-score argmax on the
    held-out split, confusion matrix out — 'ML as aggregation', the
    scikit-free way a data engine baselines a text classifier. Every
    probability is a round-9 ln() of exact counts; per-doc scores are
    exact decimal sums of those per-type constants; unseen (token,
    class) pairs hit the smoothing floor via LEFT-join + COALESCE (and
    carry the class's floor constant, not a global one). Scale: the
    model is |vocab|×|classes| rows (the broadcast side, as in the LM
    scores), the held corpus explodes once,
    and the class fan-out is |classes|. On this label-free word-salad
    corpus the matrix is near-chance BY CONSTRUCTION; the machinery is
    what's value-checked."""
    scored2 = _nb_scored(spark, sf_dir)
    pred = (scored2.withColumn("rn", F.row_number().over(
                W.partitionBy("doc_id")
                .orderBy(F.desc("sc"), F.asc("lang"))))
            .filter(F.col("rn") == 1)
            .select("actual_lang", F.col("lang").alias("predicted_lang")))
    return (pred.groupBy("actual_lang", "predicted_lang")
            .agg(F.count(F.lit(1)).alias("n_docs")))


def _nb_scored(spark, sf_dir):
    """Shared NB scoring chain: one row per (held doc, class) with the
    round-9 decision score sc = ll_sum + log_prior — one source of
    truth for the fitted model, consumed by the confusion matrix and
    the confident-learning joint (mirrors _NB_CORE_SQL)."""
    d = t(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 10 < 8)
    # the token explode feeds THREE model aggregations (class totals,
    # vocab, per-(class, token) counts) — materialize it once instead of
    # re-deriving the scan+split+explode lineage per consumer (the
    # localCheckpoint pattern that cut the r9/r10 high-exchange tiers);
    # class_tot and vocab are |classes|- and 1-row model constants with
    # two consumers each
    toks = (train.select("lang",
                         F.explode(F.split("text", " ")).alias("tok"))
            .transform(materialize))
    class_tot = (toks.groupBy("lang")
                 .agg(F.count(F.lit(1)).alias("n_toks"))
                 .transform(materialize))
    vocab = (toks.agg(F.countDistinct("tok").alias("v"))
             .transform(materialize))
    priors = (train.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
              .crossJoin(F.broadcast(
                  train.agg(F.count(F.lit(1)).alias("total"))))
              .select("lang", F.round(F.log(
                  F.col("n_docs").cast("double")
                  / F.col("total").cast("double")), 9).alias("log_prior")))
    tc = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c"))
    ll = (tc.join(class_tot, "lang").crossJoin(F.broadcast(vocab))
          .select("lang", "tok", F.round(F.log(
              (F.col("c").cast("double") + F.lit(1.0))
              / (F.col("n_toks").cast("double")
                 + F.col("v").cast("double"))), 9).alias("logp")))
    floors = (class_tot.crossJoin(F.broadcast(vocab))
              .select("lang", F.round(F.log(
                  F.lit(1.0) / (F.col("n_toks").cast("double")
                                + F.col("v").cast("double"))), 9)
                  .alias("floor_logp")))
    held = (d.filter(F.col("doc_id") % 10 >= 8)
            .select("doc_id", F.col("lang").alias("actual_lang"),
                    F.explode(F.split("text", " ")).alias("tok")))
    scored = (held
              .crossJoin(F.broadcast(floors))
              .join(F.broadcast(ll.withColumnRenamed("lang", "l2")),
                    (F.col("l2") == F.col("lang"))
                    & (ll["tok"] == held["tok"]), "left")
              .groupBy("doc_id", "lang")
              .agg(F.max("actual_lang").alias("actual_lang"),
                   F.sum(F.coalesce("logp", "floor_logp")
                         .cast("decimal(20,9)")).cast("double")
                   .alias("ll_sum")))
    return (scored.join(F.broadcast(priors), "lang")
            .select("doc_id", "actual_lang", "lang",
                    F.round(F.col("ll_sum") + F.col("log_prior"), 9)
                    .alias("sc")))


# ---------------------------------------------------------------------------
# decision stump (best single split by weighted Gini)
# ---------------------------------------------------------------------------

_STUMP_CLASSES = ["de", "en", "es", "fr", "zh"]


def _stump_sql() -> str:
    cls_counts = ", ".join(
        f"CAST(SUM(CASE WHEN lang = '{c}' THEN 1 ELSE 0 END) AS DOUBLE)"
        f" AS n_{c}" for c in _STUMP_CLASSES)
    cums = ", ".join(
        f"SUM(n_{c}) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING"
        f" AND CURRENT ROW) AS l_{c}" for c in _STUMP_CLASSES)
    tots = ", ".join(f"SUM(n_{c}) AS t_{c}" for c in _STUMP_CLASSES)
    ln = " + ".join(f"l_{c}" for c in _STUMP_CLASSES)
    tn = " + ".join(f"t_{c}" for c in _STUMP_CLASSES)
    gl = " - ".join(["1.0e0"] + [
        f"(l_{c} / nl) * (l_{c} / nl)" for c in _STUMP_CLASSES])
    gr = " - ".join(["1.0e0"] + [
        f"((t_{c} - l_{c}) / nr) * ((t_{c} - l_{c}) / nr)"
        for c in _STUMP_CLASSES])
    return f"""
WITH per_v AS (
  SELECT n_chars AS v, {cls_counts}
  FROM documents GROUP BY n_chars
),
cum AS (
  SELECT v, {cums} FROM per_v
),
tot AS (SELECT {tots}, {tn} AS n FROM per_v),
scored AS (
  SELECT cum.*, tot.*,
         ({ln}) AS nl, (tot.n - ({ln})) AS nr
  FROM cum CROSS JOIN tot
),
gini AS (
  SELECT v AS threshold, CAST(nl AS BIGINT) AS left_n,
         CAST(nr AS BIGINT) AS right_n,
         ROUND((nl * ROUND({gl}, 9) + nr * ROUND({gr}, 9)) / n, 9)
           AS weighted_gini
  FROM scored WHERE nl > 0 AND nr > 0
)
SELECT threshold, left_n, right_n, weighted_gini FROM gini
ORDER BY weighted_gini ASC, threshold ASC
LIMIT 1
"""


@query("decision_stump_fit", _stump_sql())
def decision_stump_fit(spark, sf_dir):
    """Decision-STUMP fitting (the boosted-trees inner loop) as one
    cumulative window pass: collapse to per-feature-value class counts,
    running-sum them once, and every candidate split's weighted Gini
    falls out of the cumulative row — O(n log n) total instead of
    O(n_splits × n) re-scans, which is exactly how distributed tree
    learners (XGBoost/LightGBM histograms) evaluate splits. Deterministic
    argmin with a threshold tiebreak; per-side Gini round-9 before the
    weighted blend. The per-value collapse is map-side combinable; the
    window runs over feature VALUES (already reduced), not rows."""
    d = t(spark, sf_dir, "documents")
    per_v = d.groupBy(F.col("n_chars").alias("v")).agg(
        *[F.sum(F.when(F.col("lang") == c, 1).otherwise(0))
          .cast("double").alias(f"n_{c}") for c in _STUMP_CLASSES])
    wcum = W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    cum = per_v.select(
        "v", *[F.sum(f"n_{c}").over(wcum).alias(f"l_{c}")
               for c in _STUMP_CLASSES])
    tot = per_v.agg(
        *[F.sum(f"n_{c}").alias(f"t_{c}") for c in _STUMP_CLASSES])
    scored = cum.crossJoin(F.broadcast(tot))
    nl = sum((F.col(f"l_{c}") for c in _STUMP_CLASSES[1:]),
             F.col(f"l_{_STUMP_CLASSES[0]}"))
    tn = sum((F.col(f"t_{c}") for c in _STUMP_CLASSES[1:]),
             F.col(f"t_{_STUMP_CLASSES[0]}"))
    nr = tn - nl
    gl = F.lit(1.0)
    gr = F.lit(1.0)
    for c in _STUMP_CLASSES:
        gl = gl - (F.col(f"l_{c}") / nl) * (F.col(f"l_{c}") / nl)
        gr = gr - ((F.col(f"t_{c}") - F.col(f"l_{c}")) / nr) \
            * ((F.col(f"t_{c}") - F.col(f"l_{c}")) / nr)
    gini = (scored
            .withColumn("nl", nl).withColumn("nr", nr)
            .filter((F.col("nl") > 0) & (F.col("nr") > 0))
            .select(F.col("v").alias("threshold"),
                    F.col("nl").cast("bigint").alias("left_n"),
                    F.col("nr").cast("bigint").alias("right_n"),
                    F.round((F.col("nl") * F.round(gl, 9)
                             + F.col("nr") * F.round(gr, 9)) / tn, 9)
                    .alias("weighted_gini")))
    return (gini.orderBy(F.asc("weighted_gini"), F.asc("threshold"))
            .limit(1))


# ---------------------------------------------------------------------------
# logistic regression via IRLS (2 rounds, closed-form 2x2 solve)
# ---------------------------------------------------------------------------

_IRLS_ROUNDS = 2
_IRLS_LAM = "0.001e0"


def _irls_stage_sql(r: int) -> str:
    """One IRLS round: eta/mu/working-response per row, weighted normal
    equations, closed-form regularized 2x2 solve. w{r-1} is a 1-row
    (w0, w1) relation."""
    lam = _IRLS_LAM
    det = f"((sa + {lam}) * (sxx + {lam}) - sx * sx)"
    return f""",
m{r} AS (
  SELECT p.y, p.x,
         ROUND(w.w0 + w.w1 * p.x, 9) AS eta
  FROM pts p CROSS JOIN w{r - 1} w
),
i{r} AS (
  SELECT y, x, eta,
         ROUND(1.0e0 / (1.0e0 + exp(0.0e0 - eta)), 9) AS mu
  FROM m{r}
),
s{r} AS (
  SELECT y, x, eta, mu,
         greatest(ROUND(mu * (1.0e0 - mu), 9), 0.000001e0) AS s
  FROM i{r}
),
z{r} AS (
  SELECT y, x, s, ROUND(eta + (y - mu) / s, 9) AS z FROM s{r}
),
n{r} AS (
  SELECT CAST(SUM(CAST(ROUND(s, 9) AS DECIMAL(20,9))) AS DOUBLE) AS sa,
         CAST(SUM(CAST(ROUND(s * x, 9) AS DECIMAL(20,9))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(ROUND(s * x * x, 9) AS DECIMAL(20,9))) AS DOUBLE)
           AS sxx,
         CAST(SUM(CAST(ROUND(s * z, 9) AS DECIMAL(20,9))) AS DOUBLE) AS b0,
         CAST(SUM(CAST(ROUND(s * z * x, 9) AS DECIMAL(20,9))) AS DOUBLE)
           AS b1
  FROM z{r}
),
w{r} AS (
  SELECT ROUND(((sxx + {lam}) * b0 - sx * b1) / {det}, 9) AS w0,
         ROUND((0.0e0 - sx * b0 + (sa + {lam}) * b1) / {det}, 9) AS w1
  FROM n{r}
)"""


def _irls_prefix_sql() -> str:
    """Shared IRLS chain through the per-row `final(y, mu)` CTE — composed
    by both the fit entry and the calibration report so the model SQL has
    one source of truth."""
    parts = ["""
WITH pts AS (
  SELECT CASE WHEN lang = 'en' THEN 1.0e0 ELSE 0.0e0 END AS y,
         n_chars / 1000.0e0 AS x
  FROM documents
),
w0 AS (SELECT 0.0e0 AS w0, 0.0e0 AS w1)"""]
    for r in range(1, _IRLS_ROUNDS + 1):
        parts.append(_irls_stage_sql(r))
    R = _IRLS_ROUNDS
    parts.append(f""",
final AS (
  SELECT p.y,
         ROUND(1.0e0 / (1.0e0 + exp(0.0e0 -
               ROUND(w.w0 + w.w1 * p.x, 9))), 9) AS mu
  FROM pts p CROSS JOIN w{R} w
)""")
    return "".join(parts)


def _irls_sql() -> str:
    R = _IRLS_ROUNDS
    return _irls_prefix_sql() + f"""
SELECT w.w0, w.w1,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(CASE WHEN (f.mu >= 0.5e0) = (f.y = 1.0e0)
                           THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 9) AS accuracy
FROM final f CROSS JOIN w{R} w
GROUP BY w.w0, w.w1"""


def _irls_fit(spark, sf_dir):
    """Spark twin of _irls_prefix_sql, the SINGLE source of truth for the
    in-engine logistic model (r4 ADVICE: the fit and the calibration
    report previously each carried a verbatim copy of this loop while
    their oracles shared one generated template — an edit to one copy
    would silently desync them). Returns ``(pts, w)``: the (y, x)
    training points and the 1-row fitted (w0, w1) after _IRLS_ROUNDS.
    Each round: per-row eta/sigmoid/working-response (round-9 per the
    transcendental rule, variance floored at 1e-6), weighted
    normal-equation sums (round-9 products into exact decimals),
    closed-form ridge 2x2 solve — zero driver collects."""
    d = t(spark, sf_dir, "documents")
    pts = d.select(
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        (F.col("n_chars") / F.lit(1000.0)).alias("x"))
    lam = F.lit(0.001)
    w = spark.createDataFrame([(0.0, 0.0)], "w0 double, w1 double")
    d9 = lambda col: F.sum(F.round(col, 9).cast("decimal(20,9)")) \
        .cast("double")  # noqa: E731
    for _ in range(_IRLS_ROUNDS):
        m = pts.crossJoin(F.broadcast(w)).withColumn(
            "eta", F.round(F.col("w0") + F.col("w1") * F.col("x"), 9))
        m = m.withColumn(
            "mu", F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("eta"))),
                          9))
        m = m.withColumn(
            "s", F.greatest(F.round(F.col("mu") * (F.lit(1.0)
                                                   - F.col("mu")), 9),
                            F.lit(1e-6)))
        m = m.withColumn(
            "z", F.round(F.col("eta")
                         + (F.col("y") - F.col("mu")) / F.col("s"), 9))
        n = m.agg(d9(F.col("s")).alias("sa"),
                  d9(F.col("s") * F.col("x")).alias("sx"),
                  d9(F.col("s") * F.col("x") * F.col("x")).alias("sxx"),
                  d9(F.col("s") * F.col("z")).alias("b0"),
                  d9(F.col("s") * F.col("z") * F.col("x")).alias("b1"))
        det = (F.col("sa") + lam) * (F.col("sxx") + lam) \
            - F.col("sx") * F.col("sx")
        w = n.select(
            F.round(((F.col("sxx") + lam) * F.col("b0")
                     - F.col("sx") * F.col("b1")) / det, 9).alias("w0"),
            F.round((F.lit(0.0) - F.col("sx") * F.col("b0")
                     + (F.col("sa") + lam) * F.col("b1")) / det, 9)
            .alias("w1"))
    return pts, w


def _irls_mu_expr():
    """Per-row fitted probability — mirrors the oracle's `final` CTE."""
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(
        -F.round(F.col("w0") + F.col("w1") * F.col("x"), 9))), 9)


@query("logistic_irls_fit", _irls_sql())
def logistic_irls_fit(spark, sf_dir):
    """LOGISTIC REGRESSION fitted by IRLS in the engine — with Naive
    Bayes, k-means, ALS, BPE and the decision stump, this completes the
    classical-ML-as-relational-algebra suite (model math in _irls_fit,
    shared with calibration_report exactly like the oracle template).
    Output: fitted (w0, w1) and training accuracy. Scale: a round is one
    combinable aggregation over the corpus plus a 1-row broadcast — IRLS
    at 100 TB is exactly this plan per iteration."""
    pts, w = _irls_fit(spark, sf_dir)
    final = pts.crossJoin(F.broadcast(w)).select(
        "y", "w0", "w1", _irls_mu_expr().alias("mu"))
    return (final.groupBy("w0", "w1")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.round(F.sum(
                     F.when((F.col("mu") >= 0.5) == (F.col("y") == 1.0),
                            1).otherwise(0)).cast("double")
                     / F.count(F.lit(1)), 9).alias("accuracy"))
            .select("w0", "w1", "n", "accuracy"))


def _calibration_sql() -> str:
    return _irls_prefix_sql() + """
, binned AS (
  SELECT least(CAST(floor(mu * 10.0e0) AS INT), 9) AS bin, y, mu
  FROM final
)
SELECT bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(CAST(mu AS DECIMAL(20,9))) AS DOUBLE) / COUNT(*), 9)
         AS mean_pred,
       ROUND(CAST(SUM(CAST(y AS DECIMAL(20,9))) AS DOUBLE) / COUNT(*), 9)
         AS emp_rate,
       ROUND(abs(CAST(SUM(CAST(mu AS DECIMAL(20,9))) AS DOUBLE) / COUNT(*)
                 - CAST(SUM(CAST(y AS DECIMAL(20,9))) AS DOUBLE)
                   / COUNT(*)), 9) AS abs_gap
FROM binned GROUP BY bin
"""


@query("calibration_report", _calibration_sql())
def calibration_report(spark, sf_dir):
    """CALIBRATION report for the in-engine logistic model: fixed-width
    probability bins (the standard ECE binning — deterministic, no
    quantile ties), per-bin mean predicted probability vs empirical
    positive rate and their absolute gap. The oracle composes the SAME
    generated IRLS chain as logistic_irls_fit (one source of truth for
    the model SQL), so fit and diagnosis are checked against identical
    weights. Weighted-averaging abs_gap by n gives ECE."""
    pts, w = _irls_fit(spark, sf_dir)
    final = pts.crossJoin(F.broadcast(w)).select(
        "y", _irls_mu_expr().alias("mu"))
    binned = final.select(
        F.least(F.floor(F.col("mu") * 10.0).cast("int"), F.lit(9))
        .alias("bin"), "y", "mu")
    return (binned.groupBy("bin")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.round(F.sum(F.col("mu").cast("decimal(20,9)"))
                         .cast("double") / F.count(F.lit(1)), 9)
                 .alias("mean_pred"),
                 F.round(F.sum(F.col("y").cast("decimal(20,9)"))
                         .cast("double") / F.count(F.lit(1)), 9)
                 .alias("emp_rate"))
            .withColumn("abs_gap",
                        F.round(F.abs(F.col("mean_pred")
                                      - F.col("emp_rate")), 9)))


_HL_SQL = _irls_prefix_sql() + """
, g AS (
  SELECT mu, CAST(COUNT(*) AS BIGINT) AS n_g,
         CAST(SUM(CASE WHEN y = 1.0e0 THEN 1 ELSE 0 END) AS BIGINT) AS o1_g
  FROM final GROUP BY mu
),
tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n FROM g),
binned AS (
  SELECT g.mu, g.n_g, g.o1_g,
         CAST(((SUM(g.n_g) OVER (ORDER BY g.mu) - g.n_g) * 10) // t.n
              AS INT) AS bin
  FROM g CROSS JOIN tot t
),
b AS (
  SELECT bin, CAST(SUM(n_g) AS BIGINT) AS n_b,
         CAST(SUM(o1_g) AS BIGINT) AS o1,
         CAST(SUM(CAST(ROUND(mu * n_g, 9) AS DECIMAL(30,9))) AS DOUBLE)
           AS e1
  FROM binned GROUP BY bin
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
       CAST(SUM(CAST(ROUND(
           (o1 - e1) * (o1 - e1) / NULLIF(e1, 0)
           + (o1 - e1) * (o1 - e1) / NULLIF(n_b - e1, 0), 9)
         AS DECIMAL(30,9))) AS DOUBLE) AS hl_stat
FROM b
"""


@query("eval_hosmer_lemeshow", _HL_SQL)
def eval_hosmer_lemeshow(spark, sf_dir):
    """HOSMER-LEMESHOW goodness-of-fit (Hosmer & Lemeshow 1980) for the
    in-engine IRLS logistic model: group predictions into risk deciles,
    chi2 = sum (O - E)^2/E + (O - E)^2/(n - E) over observed vs expected
    positives per decile (chi2(bins-2) under a well-specified model) —
    the fit-level verdict beside calibration_report's per-bin table
    (ECE says how far off the bins are; HL says whether the model
    should be refit). Deciles are TIE-SAFE: rows are grouped by their
    (deterministic, round-9) predicted mu first and whole mu-groups
    assigned to bins by cumulative-count integer division — identical
    partitioning on both engines, no per-row tiebreak needed and no
    arbitrary split of tied predictions across deciles. O is an exact
    integer, E an exact decimal sum of round-9 mu, per-bin terms
    round-9 fenced into one exact decimal sum; shares the one-source-
    of-truth IRLS chain with logistic_irls_fit."""
    pts, w = _irls_fit(spark, sf_dir)
    final = pts.crossJoin(F.broadcast(w)).select(
        "y", _irls_mu_expr().alias("mu"))
    g = final.groupBy("mu").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum(F.when(F.col("y") == 1.0, 1).otherwise(0)).cast("bigint")
        .alias("o1_g"))
    tot = g.agg(F.sum("n_g").cast("bigint").alias("n"))
    # bin = (cumulative count BEFORE this mu-group) * 10 div n — integer
    # div per the binning rule, whole mu-groups land in one bin
    binned = (g.crossJoin(F.broadcast(tot))
              .select("mu", "n_g", "o1_g",
                      F.expr("CAST(((sum(n_g) OVER (ORDER BY mu"
                             " ROWS BETWEEN UNBOUNDED PRECEDING AND"
                             " CURRENT ROW) - n_g) * 10) div n AS INT)")
                      .alias("bin")))
    b = binned.groupBy("bin").agg(
        F.sum("n_g").cast("bigint").alias("n_b"),
        F.sum("o1_g").cast("bigint").alias("o1"),
        F.sum(F.round(F.col("mu") * F.col("n_g"), 9)
              .cast("decimal(30,9)")).cast("double").alias("e1"))
    d = F.col("o1") - F.col("e1")
    term = (d * d / F.nullif(F.col("e1"), F.lit(0.0))
            + d * d / F.nullif(F.col("n_b") - F.col("e1"), F.lit(0.0)))
    return b.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.sum(F.round(term, 9).cast("decimal(30,9)")).cast("double")
        .alias("hl_stat"))


# ---------------------------------------------------------------------------
# token co-occurrence PMI (collocation mining over the top vocabulary)
# ---------------------------------------------------------------------------

_PMI_TOPK = 60
_PMI_MIN_CO = 5

_TOK_PMI_SQL = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
        FROM documents)
),
top AS (
  SELECT tok FROM (
    SELECT tok, COUNT(*) AS df,
           ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok ASC) AS rn
    FROM toks GROUP BY tok
  ) WHERE rn <= {_PMI_TOPK}
),
inc AS (
  SELECT t.doc_id, t.tok FROM toks t JOIN top ON top.tok = t.tok
),
n_docs AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM toks),
df AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS d FROM inc GROUP BY tok),
co AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b, CAST(COUNT(*) AS DOUBLE) AS c
  FROM inc a JOIN inc b ON b.doc_id = a.doc_id AND a.tok < b.tok
  GROUP BY 1, 2
)
SELECT co.tok_a, co.tok_b,
       CAST(co.c AS BIGINT) AS n_docs_both,
       ROUND(ln((co.c / n.n) / ((da.d / n.n) * (db.d / n.n))), 9) AS pmi
FROM co
JOIN df da ON da.tok = co.tok_a
JOIN df db ON db.tok = co.tok_b
CROSS JOIN n_docs n
WHERE co.c >= {_PMI_MIN_CO}
"""


@query("token_pmi_collocations", _TOK_PMI_SQL)
def token_pmi_collocations(spark, sf_dir):
    """Token-token PMI collocations at document granularity over the
    top-K vocabulary — the corpus-linguistics signal behind phrase
    mining and compound detection (complementing text_chi2_keyness's
    token-vs-source association and event_pmi_pairs' event semantics).
    The incidence self-join is bounded to the top-K token set (≤ K rows
    per doc, never the raw vocabulary), df/n tables broadcast, PMI in
    round-9 ln arithmetic; a min-co-occurrence floor keeps the sparse
    tail out."""
    d = t(spark, sf_dir, "documents")
    # the distinct (doc, token) incidence feeds THREE consumers (top-K
    # vocabulary, the bounded incidence, the doc count) and the bounded
    # incidence another three (df, both self-join sides): materialize
    # each once instead of re-exploding documents per consumer (17
    # exchanges measured without it).
    toks = (d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
            .distinct().transform(materialize))
    top = (toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
           .withColumn("rn", F.row_number().over(
               W.orderBy(F.desc("df"), F.asc("tok"))))
           .filter(F.col("rn") <= _PMI_TOPK)
           .select("tok"))
    inc = toks.join(F.broadcast(top), "tok").transform(materialize)
    n_docs = toks.agg(F.countDistinct("doc_id").cast("double").alias("n"))
    df = inc.groupBy("tok").agg(F.count(F.lit(1)).cast("double").alias("d"))
    a = inc.select("doc_id", F.col("tok").alias("tok_a"))
    b = inc.select("doc_id", F.col("tok").alias("tok_b"))
    co = (a.join(b, "doc_id")
          .filter(F.col("tok_a") < F.col("tok_b"))
          .groupBy("tok_a", "tok_b")
          .agg(F.count(F.lit(1)).cast("double").alias("c"))
          .filter(F.col("c") >= _PMI_MIN_CO))
    return (co
            .join(F.broadcast(df.select(F.col("tok").alias("tok_a"),
                                        F.col("d").alias("da"))), "tok_a")
            .join(F.broadcast(df.select(F.col("tok").alias("tok_b"),
                                        F.col("d").alias("db"))), "tok_b")
            .crossJoin(F.broadcast(n_docs))
            .select("tok_a", "tok_b",
                    F.col("c").cast("bigint").alias("n_docs_both"),
                    F.round(F.log((F.col("c") / F.col("n"))
                                  / ((F.col("da") / F.col("n"))
                                     * (F.col("db") / F.col("n")))), 9)
                    .alias("pmi")))


# ---------------------------------------------------------------------------
# sparse TF-IDF cosine top-k retrieval (round 7)
# ---------------------------------------------------------------------------

# drop tokens whose document frequency exceeds 4/5 of the corpus (an
# integer-exact relative stop-token cap: df*5 <= n_docs*4) — an absolute
# cap is corpus-size-dependent and this synthetic corpus has a 31-token
# vocabulary where every token is hot
_TFC_DF_NUM, _TFC_DF_DEN = 4, 5
_TFC_QUERY_DOCS = 5
_TFC_TOPK = 5


@query("sim_tfidf_cosine_topk", f"""
WITH toks AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
df AS (SELECT tok, COUNT(*) AS df FROM tf CROSS JOIN n GROUP BY tok, n.n_docs
       HAVING COUNT(*) * {_TFC_DF_DEN} <= n.n_docs * {_TFC_DF_NUM}),
w AS (
  SELECT tf.doc_id, tf.tok,
         tf.tf * ROUND(LN((n.n_docs + 1.0) / (df.df + 1.0)), 9) AS w
  FROM tf JOIN df USING (tok) CROSS JOIN n
),
nrm AS (
  SELECT doc_id,
         sqrt(CAST(SUM(CAST(ROUND(w * w, 9) AS DECIMAL(30,9))) AS DOUBLE))
           AS nrm
  FROM w GROUP BY doc_id
),
dots AS (
  SELECT q.doc_id AS qid, c.doc_id AS vid,
         CAST(SUM(CAST(ROUND(q.w * c.w, 9) AS DECIMAL(30,9))) AS DOUBLE)
           AS dot
  FROM w q JOIN w c ON q.tok = c.tok AND q.doc_id != c.doc_id
  WHERE q.doc_id < {_TFC_QUERY_DOCS}
  GROUP BY 1, 2
),
cos AS (
  SELECT d.qid, d.vid,
         -- NULLIF: zero TF-IDF norm (every token zero-IDF) must yield
         -- NULL on both engines, never a Spark ANSI abort vs DuckDB inf
         ROUND(d.dot / NULLIF(nq.nrm * nv.nrm, 0), 9) AS cos_sim
  FROM dots d
  JOIN nrm nq ON nq.doc_id = d.qid
  JOIN nrm nv ON nv.doc_id = d.vid
),
ranked AS (
  SELECT qid, vid, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cos_sim DESC, vid) AS rn
  FROM cos
)
SELECT qid, vid, cos_sim, rn FROM ranked WHERE rn <= {_TFC_TOPK}
""")
def sim_tfidf_cosine_topk(spark, sf_dir):
    """SPARSE-VECTOR similarity search: cosine top-{_TFC_TOPK} over TF-IDF
    bag-of-words vectors, computed via the inverted-index join (shared
    tokens only) instead of materializing dense vectors — the classic IR
    retrieval shape (Salton's vector model), complementing the dense
    embedding ANN family.

    Scale posture: tokens present in more than {_TFC_DF_NUM}/{_TFC_DF_DEN}
    of documents are PRUNED before the pair join (a stop-token's posting
    list is corpus-sized — joining on it is the quadratic blowup; real
    systems drop or impact-order these), so per-token join fan-out is
    bounded; production adds an absolute posting cap on top. Query side is
    {_TFC_QUERY_DOCS} docs (broadcast); norms are computed ONCE PER DOC
    below the pair join. Per-pair contributions round-9 then
    exact-decimal sum (engine-portable float reduction)."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    # corpus size as a LAZY broadcast scalar (was an eager d.count()
    # job at construction time — r15)
    nd = d.agg(F.count(F.lit(1)).alias("__nd"))
    df = (tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
          .crossJoin(F.broadcast(nd))
          .filter(F.col("df") * _TFC_DF_DEN
                  <= F.col("__nd") * _TFC_DF_NUM))
    # the weighted-token table feeds THREE consumers (query side, corpus
    # side, norms); without a checkpoint the whole token->tf->df lineage
    # re-derives per branch (measured 16 exchanges). localCheckpoint
    # (eager=False) caps the plan at the materialized table — the
    # repo-standard multi-consumer pattern (see graph_label_propagation).
    w = (tf.join(df, "tok")
         .select("doc_id", "tok",
                 (F.col("tf") * F.round(F.log(
                     (F.col("__nd").cast("double") + 1.0)
                     / (F.col("df") + 1.0)),
                     9)).alias("w"))
         .transform(materialize))
    nrm = (w.groupBy("doc_id")
           .agg(F.sqrt(F.sum(F.round(F.col("w") * F.col("w"), 9)
                             .cast("decimal(30,9)")).cast("double"))
                .alias("nrm")))
    q = (w.filter(F.col("doc_id") < _TFC_QUERY_DOCS)
         .withColumnRenamed("doc_id", "qid").withColumnRenamed("w", "wq"))
    c = (w.withColumnRenamed("doc_id", "vid").withColumnRenamed("w", "wv"))
    dots = (q.join(c, "tok")
            .filter(F.col("qid") != F.col("vid"))
            .groupBy("qid", "vid")
            .agg(F.sum(F.round(F.col("wq") * F.col("wv"), 9)
                       .cast("decimal(30,9)")).cast("double").alias("dot")))
    nq = nrm.withColumnRenamed("doc_id", "qid").withColumnRenamed(
        "nrm", "nrm_q")
    nv = nrm.withColumnRenamed("doc_id", "vid").withColumnRenamed(
        "nrm", "nrm_v")
    cos = (dots.join(nq, "qid").join(nv, "vid")
           .select("qid", "vid",
                   F.round(F.col("dot")
                           / F.nullif(F.col("nrm_q") * F.col("nrm_v"),
                                      F.lit(0.0)), 9).alias("cos_sim")))
    win = W.partitionBy("qid").orderBy(F.desc("cos_sim"), "vid")
    return (cos.withColumn("rn", F.row_number().over(win))
            .filter(F.col("rn") <= _TFC_TOPK))


# ---------------------------------------------------------------------------
# corpus-level ExactSubstr duplicate spans (Lee et al. 2022) — GLOBAL
# sorted-fingerprint pass, independent of the LSH candidate stage above
# ---------------------------------------------------------------------------

# paper uses k=50 tokens; this corpus averages ~54 tokens/doc, so the
# registered entry pins k=20 to exercise the operator end-to-end (the
# operator default stays 50)
_XSUB_K = 20

_XSUB_SPANS_SQL = f"""
WITH grams AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string((string_split(text, ' '))[i:i+{_XSUB_K - 1}],
             ' ')) AS gh
  FROM (SELECT doc_id, text,
               -- range() end is EXCLUSIVE: +2 yields i = 1 .. n-k+1
               UNNEST(range(1, len(string_split(text, ' ')) - {_XSUB_K} + 2))
                 AS i
        FROM documents WHERE len(string_split(text, ' ')) >= {_XSUB_K})
),
dup AS (SELECT gh FROM grams GROUP BY gh HAVING COUNT(*) >= 2),
pos AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gh)),
runs AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM pos
)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + {_XSUB_K - 1} AS BIGINT) AS span_end,
       CAST(MAX(pos) - MIN(pos) + {_XSUB_K} AS BIGINT) AS span_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_dup_windows
FROM runs GROUP BY doc_id, grp
"""


@query("dedup_exactsubstr_spans", _XSUB_SPANS_SQL)
def dedup_exactsubstr_spans(spark, sf_dir):
    """ExactSubstr cross-document substring dedup (Lee et al. 2022): every
    maximal token span whose k-token windows ALL occur >= 2 times
    corpus-wide — the exact unit the paper's suffix-array pass deletes.
    Unlike dedup_substring_span (span evidence over LSH candidate pairs),
    this is a GLOBAL pass: the shuffle on the window fingerprint is the
    distributed analog of suffix sorting, so no duplicate can hide from a
    missed LSH candidate. See operators/dedup.exact_substring_spans for
    the plan-shape and 100 TB notes."""
    from arangodb_java_parquet_spark.operators.dedup import (
        exact_substring_spans)
    d = t(spark, sf_dir, "documents")
    return exact_substring_spans(d, k=_XSUB_K)


_XSUB_STATS_SQL = _XSUB_SPANS_SQL.replace(
    "SELECT doc_id,\n       CAST(MIN(pos) AS BIGINT) AS span_start,",
    """, spans AS (
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS span_start,""") + """)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(COUNT(DISTINCT s.doc_id) AS BIGINT) AS n_docs_affected,
       CAST(SUM(s.n_dup_windows) AS BIGINT) AS total_dup_windows,
       CAST(MAX(s.span_tokens) AS BIGINT) AS max_span_tokens
FROM spans s JOIN documents d USING (doc_id)
GROUP BY d.source
"""


@query("dedup_exactsubstr_stats", _XSUB_STATS_SQL)
def dedup_exactsubstr_stats(spark, sf_dir):
    """Removal accounting for the ExactSubstr pass, rolled up by corpus
    source: how many duplicated spans, in how many documents, how many
    duplicated windows, and the longest span — the report a curation run
    reads before committing a deletion pass. One extra join (span rows,
    already span-grain) + one aggregation on top of
    dedup_exactsubstr_spans."""
    from arangodb_java_parquet_spark.operators.dedup import (
        exact_substring_spans)
    d = t(spark, sf_dir, "documents")
    spans = exact_substring_spans(d, k=_XSUB_K)
    return (spans.join(d.select("doc_id", "source"), "doc_id")
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_spans"),
                 F.countDistinct("doc_id").cast("bigint")
                 .alias("n_docs_affected"),
                 F.sum("n_dup_windows").cast("bigint")
                 .alias("total_dup_windows"),
                 F.max("span_tokens").cast("bigint")
                 .alias("max_span_tokens")))


_XSUB_REMOVAL_SQL = f"""
WITH grams AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string((string_split(text, ' '))[i:i+{_XSUB_K - 1}],
             ' ')) AS gh
  FROM (SELECT doc_id, text,
               -- range() end is EXCLUSIVE: +2 yields i = 1 .. n-k+1
               UNNEST(range(1, len(string_split(text, ' ')) - {_XSUB_K} + 2))
                 AS i
        FROM documents WHERE len(string_split(text, ' ')) >= {_XSUB_K})
),
occ AS (
  SELECT doc_id, pos,
         ROW_NUMBER() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS occ_rn
  FROM grams
),
rem AS (SELECT doc_id, pos FROM occ WHERE occ_rn >= 2),
runs AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM rem
),
spans AS (
  SELECT doc_id, MIN(pos) AS s, MAX(pos) + {_XSUB_K - 1} AS e
  FROM runs GROUP BY doc_id, grp
),
m AS (
  SELECT doc_id, s, e,
         MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS pme
  FROM spans
),
isl AS (
  SELECT doc_id, s, e,
         SUM(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY s
                 ROWS UNBOUNDED PRECEDING) AS island_id
  FROM m
),
merged AS (
  SELECT doc_id, MAX(e) - MIN(s) + 1 AS removed_len
  FROM isl GROUP BY doc_id, island_id
),
per_doc AS (
  SELECT doc_id, CAST(SUM(removed_len) AS BIGINT) AS tokens_removed
  FROM merged GROUP BY doc_id
)
SELECT p.doc_id,
       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
       p.tokens_removed,
       CAST(len(string_split(d.text, ' ')) - p.tokens_removed AS BIGINT)
         AS tokens_kept,
       (len(string_split(d.text, ' ')) - p.tokens_removed)
         / CAST(len(string_split(d.text, ' ')) AS DOUBLE) AS keep_ratio
FROM per_doc p JOIN documents d USING (doc_id)
"""


@query("dedup_exactsubstr_removal", _XSUB_REMOVAL_SQL)
def dedup_exactsubstr_removal(spark, sf_dir):
    """The DELETION step of the ExactSubstr pass: keep each duplicated
    k-token window's corpus-wide FIRST occurrence (canonical by
    (doc_id, pos) — deterministic in any engine), mark every other
    occurrence removable, merge each document's removable positions into
    runs and token-overlap islands, and account exactly how many tokens
    deletion cuts per affected document. See
    operators/dedup.exact_substring_removal."""
    from arangodb_java_parquet_spark.operators.dedup import (
        exact_substring_removal)
    d = t(spark, sf_dir, "documents")
    return exact_substring_removal(d, k=_XSUB_K)


# ---------------------------------------------------------------------------
# winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003 — MOSS)
# ---------------------------------------------------------------------------

_WIN_K = 5   # gram size (tokens)
_WIN_W = 4   # winnowing window (grams)
_WIN_DF_CAP = 50   # stop-fingerprint cap for the match join
_WIN_MIN_SHARED = 3

_WIN_FPS_CTE = f"""
WITH grams AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string((string_split(text, ' '))[i:i+{_WIN_K - 1}],
             ' ')) AS gh
  FROM (SELECT doc_id, text,
               UNNEST(range(1, len(string_split(text, ' ')) - {_WIN_K} + 2))
                 AS i
        FROM documents WHERE len(string_split(text, ' ')) >= {_WIN_K})
),
ng AS (SELECT doc_id, COUNT(*) AS n_g FROM grams GROUP BY doc_id),
sel AS (
  SELECT doc_id, pos,
         MIN(gh || lpad(CAST(99999999 - pos AS VARCHAR), 8, '0'))
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING) AS s
  FROM grams
),
fps AS (
  SELECT DISTINCT sel.doc_id,
         CAST(99999999 - CAST(substring(sel.s, 33, 8) AS INT) AS BIGINT)
           AS fp_pos,
         substring(sel.s, 1, 32) AS fp
  FROM sel JOIN ng USING (doc_id)
  WHERE sel.pos <= ng.n_g - {_WIN_W} + 1
)"""


@query("dedup_winnowing_density", _WIN_FPS_CTE + f"""
SELECT f.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
       CAST(MAX(ng.n_g) AS BIGINT) AS n_grams,
       COUNT(*) / CAST(MAX(ng.n_g) AS DOUBLE) AS density
FROM fps f JOIN ng ON ng.doc_id = f.doc_id
GROUP BY f.doc_id
""")
def dedup_winnowing_density(spark, sf_dir):
    """WINNOWING fingerprint sketch per document (Schleimer, Wilkerson &
    Aiken, SIGMOD 2003 — the MOSS plagiarism-detection algorithm): the
    rightmost-minimum gram hash of every {_WIN_W}-gram window, reported
    as a per-document density audit (selected fingerprints / grams —
    theory says ~2/(w+1) on random text, spikes mean repetitive
    low-entropy documents). The cross-engine argmin is a plain string
    MIN over gh || zfill(99999999 - pos), so both engines select the
    identical fingerprint set bit-for-bit. See
    operators/dedup.winnowing_fingerprints for the guarantee and the
    100 TB posture (per-document windows, O(tokens) rows, no pairs)."""
    from arangodb_java_parquet_spark.operators.dedup import (
        winnowing_fingerprints)
    d = t(spark, sf_dir, "documents")
    fps = winnowing_fingerprints(d, k=_WIN_K, w=_WIN_W)
    grams_per_doc = (F.size(F.split(F.col("text"), " "))
                     - F.lit(_WIN_K - 1)).cast("bigint")
    ng = (d.filter(F.size(F.split(F.col("text"), " ")) >= _WIN_K)
          .select("doc_id", grams_per_doc.alias("n_g")))
    return (fps.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_fingerprints"))
            .join(ng, "doc_id")
            .select("doc_id", "n_fingerprints",
                    F.col("n_g").alias("n_grams"),
                    (F.col("n_fingerprints")
                     / F.col("n_g").cast("double")).alias("density")))


@query("dedup_winnowing_matches", _WIN_FPS_CTE + f"""
, dfp AS (SELECT DISTINCT doc_id, fp FROM fps),
live AS (
  SELECT fp FROM dfp GROUP BY fp
  HAVING COUNT(*) >= 2 AND COUNT(*) <= {_WIN_DF_CAP}
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM (SELECT d.doc_id, d.fp FROM dfp d JOIN live USING (fp)) a
  JOIN (SELECT d.doc_id, d.fp FROM dfp d JOIN live USING (fp)) b
    ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_shared FROM pairs
WHERE n_shared >= {_WIN_MIN_SHARED}
""")
def dedup_winnowing_matches(spark, sf_dir):
    """Cross-document WINNOWING matches — the MOSS report: document
    pairs sharing >= {_WIN_MIN_SHARED} selected fingerprints. By the
    winnowing guarantee any shared run of k + w - 1 = {_WIN_K + _WIN_W - 1}
    tokens shares at least one fingerprint, so this catches every
    substantial overlap while joining only the ~2/(w+1)-sampled
    fingerprint table. Fingerprints present in more than {_WIN_DF_CAP}
    documents are dropped before the pair join (the stop-fingerprint
    cap: a boilerplate fingerprint's posting list is corpus-sized and
    its join quadratic — the same bounded-postings contract as PPJoin
    and the capped LSH funnel)."""
    from arangodb_java_parquet_spark.operators.dedup import (
        winnowing_fingerprints)
    d = t(spark, sf_dir, "documents")
    dfp = (winnowing_fingerprints(d, k=_WIN_K, w=_WIN_W)
           .select("doc_id", "fp").distinct()
           .transform(materialize))  # feeds df-cap + both join sides
    live = (dfp.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
            .filter((F.col("df") >= 2) & (F.col("df") <= _WIN_DF_CAP))
            .select("fp"))
    bounded = dfp.join(F.broadcast(live), "fp")
    a = bounded.select(F.col("doc_id").alias("doc_a"), "fp")
    b = bounded.select(F.col("doc_id").alias("doc_b"), "fp")
    return (a.join(b, "fp")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
            .filter(F.col("n_shared") >= _WIN_MIN_SHARED))


_XSUB_APPLY_SQL = f"""
WITH grams AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string((string_split(text, ' '))[i:i+{_XSUB_K - 1}],
             ' ')) AS gh
  FROM (SELECT doc_id, text,
               -- range() end is EXCLUSIVE: +2 yields i = 1 .. n-k+1
               UNNEST(range(1, len(string_split(text, ' ')) - {_XSUB_K} + 2))
                 AS i
        FROM documents WHERE len(string_split(text, ' ')) >= {_XSUB_K})
),
occ AS (
  SELECT doc_id, pos,
         ROW_NUMBER() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS occ_rn
  FROM grams
),
rem AS (SELECT doc_id, pos FROM occ WHERE occ_rn >= 2),
runs AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM rem
),
spans AS (
  SELECT doc_id, MIN(pos) AS s, MAX(pos) + {_XSUB_K - 1} AS e
  FROM runs GROUP BY doc_id, grp
),
toks AS (
  SELECT doc_id, i AS pos, (string_split(text, ' '))[i] AS tok
  FROM (SELECT doc_id, text,
               UNNEST(range(1, len(string_split(text, ' ')) + 1)) AS i
        FROM documents)
),
kept AS (
  SELECT t.doc_id, t.pos, t.tok
  FROM toks t
  WHERE NOT EXISTS (SELECT 1 FROM spans s
                    WHERE s.doc_id = t.doc_id
                      AND t.pos BETWEEN s.s AND s.e)
)
SELECT d.doc_id,
       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
       CAST(COUNT(k.pos) AS BIGINT) AS tokens_kept,
       COALESCE(string_agg(k.tok, ' ' ORDER BY k.pos), '') AS cleaned_text
FROM documents d LEFT JOIN kept k USING (doc_id)
GROUP BY d.doc_id, d.text
"""


@query("dedup_exactsubstr_apply", _XSUB_APPLY_SQL)
def dedup_exactsubstr_apply(spark, sf_dir):
    """The APPLY step that completes the ExactSubstr family end to end:
    the CLEANED corpus itself — each document's text with every
    non-canonical duplicated island cut out (keep-first semantics,
    the exact geometry of dedup_exactsubstr_removal) and the surviving
    tokens rejoined. Unaffected documents pass through verbatim; a
    fully-duplicated non-canonical document comes out empty. The oracle
    recomputes the deletion geometry independently (row_number
    occurrence ranking vs Spark's combinable min-agg canonicals) and
    compares the full cleaned TEXT, so the value hash proves the two
    formulations delete byte-identical token sets. See
    operators/dedup.exact_substring_apply for the 100 TB plan shape.

    Note the oracle removes per-SPAN intervals while Spark removes
    per-island intervals — equal by construction, because spans within
    one island pairwise overlap (an island breaks exactly where a span
    starts past the running max end), so the interval unions coincide.
    """
    from arangodb_java_parquet_spark.operators.dedup import (
        exact_substring_apply)
    d = t(spark, sf_dir, "documents")
    return exact_substring_apply(d, k=_XSUB_K)


_XSUB_SPLIT = 400

_XSUB_INC_SQL = f"""
WITH grams AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string((string_split(text, ' '))[i:i+{_XSUB_K - 1}],
             ' ')) AS gh
  FROM (SELECT doc_id, text,
               -- range() end is EXCLUSIVE: +2 yields i = 1 .. n-k+1
               UNNEST(range(1, len(string_split(text, ' ')) - {_XSUB_K} + 2))
                 AS i
        FROM documents WHERE len(string_split(text, ' ')) >= {_XSUB_K})
),
corpus_fp AS (SELECT DISTINCT gh FROM grams WHERE doc_id < {_XSUB_SPLIT}),
hits AS (
  SELECT g.doc_id, g.pos
  FROM grams g JOIN corpus_fp c USING (gh)
  WHERE g.doc_id >= {_XSUB_SPLIT}
),
runs AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM hits
)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + {_XSUB_K - 1} AS BIGINT) AS span_end,
       CAST(MAX(pos) - MIN(pos) + {_XSUB_K} AS BIGINT) AS span_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_dup_windows
FROM runs GROUP BY doc_id, grp
"""


@query("dedup_exactsubstr_incremental", _XSUB_INC_SQL)
def dedup_exactsubstr_incremental(spark, sf_dir):
    """INCREMENTAL ExactSubstr at ingest against a PERSISTENT fingerprint
    store (the substring sibling of dedup_incremental_minhash_stored):
    the corpus's distinct k-token window fingerprints are fit ONCE into
    the model store, and each new batch fingerprints only its own
    windows and equi-joins the stored set — 'how much of this new
    document already exists verbatim in the corpus' without ever
    re-fingerprinting the corpus. Matching batch positions merge into
    maximal spans exactly as in dedup_exactsubstr_spans. Value-checked
    end to end: the oracle recomputes both sides from scratch, so a hash
    match proves the stored index is byte-faithful. At 100 TB the store
    is DISTINCT md5 fingerprints — append the batch's own fingerprints
    back (one write) and tomorrow's index is current."""
    from arangodb_java_parquet_spark.operators.dedup import (
        positional_window_fps)
    from arangodb_java_parquet_spark.operators.models import (
        ensure_model, store_root_for)
    from pyspark.sql import Window as W
    d = t(spark, sf_dir, "documents")

    def fit():
        corpus = d.filter(F.col("doc_id") < _XSUB_SPLIT)
        return (positional_window_fps(corpus, _XSUB_K)
                .select("gh").distinct())

    store = ensure_model(spark, store_root_for(sf_dir, "documents"),
                         "exactsubstr_fp_index", "window_fps", fit)
    batch = d.filter(F.col("doc_id") >= _XSUB_SPLIT)
    hits = (positional_window_fps(batch, _XSUB_K)
            .join(store, "gh"))
    runs = hits.select(
        "doc_id", "pos",
        (F.col("pos") - F.row_number().over(
            W.partitionBy("doc_id").orderBy("pos"))).alias("grp"))
    return (runs.groupBy("doc_id", "grp")
            .agg(F.min("pos").cast("bigint").alias("span_start"),
                 (F.max("pos") + F.lit(_XSUB_K - 1)).cast("bigint")
                 .alias("span_end"),
                 (F.max("pos") - F.min("pos") + F.lit(_XSUB_K))
                 .cast("bigint").alias("span_tokens"),
                 F.count(F.lit(1)).cast("bigint").alias("n_dup_windows"))
            .drop("grp"))


# ---------------------------------------------------------------------------
# active learning: margin (uncertainty) sampling from the IRLS model (9d)
# ---------------------------------------------------------------------------

_MARGIN_K = 25


def _margin_sql() -> str:
    R = _IRLS_ROUNDS
    return _irls_prefix_sql() + f""",
scored AS (
  SELECT d.doc_id,
         ROUND(1.0e0 / (1.0e0 + exp(0.0e0 -
               ROUND(w.w0 + w.w1 * (d.n_chars / 1000.0e0), 9))), 9) AS mu
  FROM documents d CROSS JOIN w{R} w
)
SELECT doc_id, mu, ROUND(abs(mu - 0.5e0), 9) AS margin
FROM scored
ORDER BY margin ASC, doc_id ASC
LIMIT {_MARGIN_K}"""


@query("active_margin_sampling", _margin_sql())
def active_margin_sampling(spark, sf_dir):
    """ACTIVE-LEARNING acquisition: margin (uncertainty) sampling — the
    {_MARGIN_K} documents whose fitted probability under the in-engine
    IRLS logistic model sits closest to the 0.5 decision boundary (Lewis
    & Gale 1994). This is the next-labeling-batch selector of a
    label-efficient curation loop: spend annotation budget where the
    model is least sure. Composes the SAME generated IRLS chain as
    logistic_irls_fit / calibration_report (one source of truth on both
    engines); scoring is one broadcast of the 1-row weight vector
    against the corpus, and the batch selection is TakeOrdered
    (per-partition heaps), not a global sort.

    Determinism: mu inherits the fit entry's round-9 sigmoid contract;
    the margin is round-9'd and tie-broken by doc_id, so the top-k
    boundary is engine-exact. The eta expression keeps the prefix
    template's association (w1 * (n_chars/1000)) so scored mu is
    bit-identical to the fit's final CTE."""
    pts, w = _irls_fit(spark, sf_dir)
    d = t(spark, sf_dir, "documents")
    scored = (d.crossJoin(F.broadcast(w))
              .select("doc_id",
                      (F.col("n_chars") / F.lit(1000.0)).alias("x"),
                      "w0", "w1")
              .select("doc_id", _irls_mu_expr().alias("mu")))
    return (scored.select("doc_id", "mu",
                          F.round(F.abs(F.col("mu") - 0.5), 9)
                          .alias("margin"))
            .orderBy(F.asc("margin"), F.asc("doc_id"))
            .limit(_MARGIN_K))


# ---------------------------------------------------------------------------
# round 10b: cross-source containment matrix + IDF-weighted Jaccard verify
# ---------------------------------------------------------------------------

@query("dedup_cross_source_containment", """
WITH grams AS (
  SELECT DISTINCT source, shingle
  FROM (SELECT source,
               UNNEST(list_transform(
                 range(1, greatest(len(string_split(text, ' ')) - 4, 1) + 1),
                 i -> array_to_string((string_split(text, ' '))[i:i+4], ' ')))
                 AS shingle
        FROM documents)
),
counts AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sh
           FROM grams GROUP BY source),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM grams a JOIN grams b
    ON a.shingle = b.shingle AND a.source <> b.source
  GROUP BY 1, 2
)
SELECT i.source_a, i.source_b, i.n_shared, cb.n_sh AS n_b,
       i.n_shared / CAST(cb.n_sh AS DOUBLE) AS containment_b_in_a
FROM inter i JOIN counts cb ON cb.source = i.source_b
""")
def dedup_cross_source_containment(spark, sf_dir):
    """CROSS-SOURCE duplication matrix: for every ordered source pair
    (A, B), the fraction of B's distinct word-5-gram shingles that also
    appear in A — the corpus-curation heatmap that tells you which
    sources are re-crawls/mirrors of which (directed containment
    catches a small source embedded in a big one, where symmetric
    Jaccard dilutes to noise). Drives the keep-which-source decision
    before cluster dedup. Shape: one distinct (source, shingle) pass,
    one equi-join on the shingle — per-shingle fan-out is bounded by
    the number of SOURCES (a handful at any corpus scale), never by
    document count, so the join output is at most |shingles| x
    |sources|². Pure integer counting to one final division."""
    d = t(spark, sf_dir, "documents")
    grams = (spread(d).select(  # r15: one-task scan-stage explode
        "source",
        F.explode(F.expr(
            "transform(sequence(1, greatest(size(split(text, ' ')) - 4,"
            " 1)), i -> array_join(slice(split(text, ' '), i, 5), ' '))"))
        .alias("shingle"))
        .distinct().transform(materialize))  # counts + both sides
    counts = (grams.groupBy("source")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_sh")))
    a = grams.select(F.col("source").alias("source_a"), "shingle")
    b = grams.select(F.col("source").alias("source_b"), "shingle")
    inter = (a.join(b, "shingle")
             .filter(F.col("source_a") != F.col("source_b"))
             .groupBy("source_a", "source_b")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared")))
    return (inter.join(F.broadcast(counts.withColumnRenamed(
                "source", "source_b").withColumnRenamed("n_sh", "n_b")),
                "source_b")
            .select("source_a", "source_b", "n_shared", "n_b",
                    (F.col("n_shared") / F.col("n_b").cast("double"))
                    .alias("containment_b_in_a")))


_WJ_DOCS = 100
_WJ_THRESH_NUM, _WJ_THRESH_DEN = 1, 100  # weighted-jaccard floor 0.01


@query("dedup_weighted_jaccard", f"""
WITH uni AS (SELECT doc_id, text FROM documents WHERE doc_id < {_WJ_DOCS}),
grams AS (
  SELECT DISTINCT doc_id, shingle
  FROM (SELECT doc_id,
               UNNEST(list_transform(
                 range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
                 i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')))
                 AS shingle
        FROM uni)
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM uni),
idf AS (
  SELECT shingle,
         ROUND(LN(CAST(n.n_docs + 1 AS DOUBLE)
                  / CAST(COUNT(*) + 1 AS DOUBLE)), 9) AS w
  FROM grams CROSS JOIN n GROUP BY shingle, n.n_docs
),
wg AS (SELECT g.doc_id, g.shingle, i.w FROM grams g JOIN idf i USING (shingle)),
sums AS (
  SELECT doc_id,
         CAST(SUM(CAST(w AS DECIMAL(30,9))) AS DOUBLE) AS s
  FROM wg GROUP BY doc_id
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(SUM(CAST(a.w AS DECIMAL(30,9))) AS DOUBLE) AS si
  FROM wg a JOIN wg b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, i.si AS inter_weight,
       sa.s + sb.s - i.si AS union_weight,
       i.si / (sa.s + sb.s - i.si) AS weighted_jaccard
FROM inter i
JOIN sums sa ON sa.doc_id = i.doc_a
JOIN sums sb ON sb.doc_id = i.doc_b
WHERE i.si / (sa.s + sb.s - i.si)
      >= CAST({_WJ_THRESH_NUM} AS DOUBLE) / CAST({_WJ_THRESH_DEN} AS DOUBLE)
""")
def dedup_weighted_jaccard(spark, sf_dir):
    """IDF-WEIGHTED Jaccard verify stage (Chum, Philbin & Zisserman
    2008's weighted min-hash target): shingle overlap where each shared
    word-3-gram counts its corpus rarity ln((N+1)/(df+1)) instead of 1
    — two docs sharing boilerplate n-grams score near zero while two
    docs sharing rare content score high, exactly the discrimination
    plain Jaccard (dedup_ngram_jaccard) lacks. Same bounded verify
    universe (doc_id < _WJ_DOCS); weights round-9 then exact-decimal
    summed;
    union weight by inclusion-exclusion (sA + sB - inter, no union
    materialization). Threshold as an integer ratio on both engines.
    """
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < _WJ_DOCS)
    from arangodb_java_parquet_spark.operators.dedup import word_ngrams
    grams = word_ngrams(d, do_spread=False)
    # bounded-universe doc count as a LAZY broadcast scalar (was an
    # eager d.count() job at construction time — r15)
    nd = d.agg(F.count(F.lit(1)).alias("__nd"))
    idf = (grams.groupBy("shingle")
           .agg((F.count(F.lit(1)) + 1).cast("double").alias("__dfp1"))
           .crossJoin(F.broadcast(nd))
           .select("shingle",
                   F.round(F.log((F.col("__nd") + 1).cast("double")
                                 / F.col("__dfp1")), 9).alias("w")))
    wg = grams.join(idf, "shingle").transform(materialize)
    sums = (wg.groupBy("doc_id")
            .agg(F.sum(F.col("w").cast("decimal(30,9)")).cast("double")
                 .alias("s")))
    a = wg.select(F.col("doc_id").alias("doc_a"), "shingle",
                  F.col("w").alias("wa"))
    b = wg.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (a.join(b, "shingle")
             .filter(F.col("doc_a") < F.col("doc_b"))
             .groupBy("doc_a", "doc_b")
             .agg(F.sum(F.col("wa").cast("decimal(30,9)")).cast("double")
                  .alias("si")))
    sa = sums.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    sb = sums.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    thr = (F.lit(_WJ_THRESH_NUM).cast("double")
           / F.lit(_WJ_THRESH_DEN).cast("double"))
    uw = F.col("sa") + F.col("sb") - F.col("si")
    return (inter.join(sa, "doc_a").join(sb, "doc_b")
            .select("doc_a", "doc_b", F.col("si").alias("inter_weight"),
                    uw.alias("union_weight"),
                    (F.col("si") / uw).alias("weighted_jaccard"))
            .filter(F.col("weighted_jaccard") >= thr))


_WIN_SPLIT = 400


@query("dedup_winnowing_incremental", _WIN_FPS_CTE + f"""
, store AS (SELECT DISTINCT fp FROM fps WHERE doc_id < {_WIN_SPLIT}),
batch AS (
  SELECT doc_id, fp FROM (SELECT DISTINCT doc_id, fp FROM fps)
  WHERE doc_id >= {_WIN_SPLIT}
),
per_doc AS (
  SELECT b.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_fps,
         CAST(SUM(CASE WHEN s.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_matched
  FROM batch b LEFT JOIN store s ON s.fp = b.fp
  GROUP BY b.doc_id
)
SELECT doc_id, n_fps, n_matched,
       1e0 - n_matched / CAST(n_fps AS DOUBLE) AS novelty
FROM per_doc
""")
def dedup_winnowing_incremental(spark, sf_dir):
    """INCREMENTAL winnowing at ingest against a PERSISTENT fingerprint
    store — completing the stored-index triple (MinHash bands:
    dedup_incremental_minhash_stored; ExactSubstr windows:
    dedup_exactsubstr_incremental; winnowing sketches: this): the
    corpus's distinct winnowed fingerprints are fit ONCE into the model
    store; each new batch winnows only its own documents and equi-joins
    the stored set, reporting per-document fingerprint novelty (the
    MOSS originality score). The oracle recomputes BOTH sides from
    scratch, so the value hash proves the stored index byte-faithful.
    At 100 TB the store is the distinct ~2/(w+1)-sampled fingerprints —
    one append per batch keeps it current; the corpus is never
    re-winnowed."""
    from arangodb_java_parquet_spark.operators.dedup import (
        winnowing_fingerprints)
    from arangodb_java_parquet_spark.operators.models import (
        ensure_model, store_root_for)
    d = t(spark, sf_dir, "documents")

    def fit():
        corpus = d.filter(F.col("doc_id") < _WIN_SPLIT)
        return (winnowing_fingerprints(corpus, k=_WIN_K, w=_WIN_W)
                .select("fp").distinct())

    store = ensure_model(spark, store_root_for(sf_dir, "documents"),
                         "winnowing_fp_index", "window_fps", fit)
    batch = d.filter(F.col("doc_id") >= _WIN_SPLIT)
    bfp = (winnowing_fingerprints(batch, k=_WIN_K, w=_WIN_W)
           .select("doc_id", "fp").distinct())
    hit = bfp.join(store.select(F.col("fp").alias("sfp")),
                   bfp.fp == F.col("sfp"), "left")
    return (hit.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_fps"),
                 F.sum(F.when(F.col("sfp").isNotNull(), 1).otherwise(0))
                 .cast("bigint").alias("n_matched"))
            .select("doc_id", "n_fps", "n_matched",
                    (F.lit(1.0) - F.col("n_matched")
                     / F.col("n_fps").cast("double")).alias("novelty")))


# ---------------------------------------------------------------------------
# confident-learning joint (label-noise detection) over the NB posterior
# ---------------------------------------------------------------------------

_CJ_SQL = _NB_CORE_SQL + """
, scored2 AS (
  SELECT s.doc_id, s.actual_lang, s.lang,
         ROUND(s.ll_sum + p.log_prior, 9) AS sc
  FROM scored s JOIN priors p ON p.lang = s.lang
),
mx AS (SELECT doc_id, MAX(sc) AS m FROM scored2 GROUP BY doc_id),
ex AS (
  SELECT s.doc_id, s.actual_lang, s.lang,
         ROUND(EXP(s.sc - mx.m), 9) AS e
  FROM scored2 s JOIN mx USING (doc_id)
),
den AS (SELECT doc_id,
               CAST(SUM(CAST(e AS DECIMAL(20,9))) AS DOUBLE) AS den
        FROM ex GROUP BY doc_id),
prob AS (
  SELECT ex.doc_id, ex.actual_lang, ex.lang,
         ROUND(ex.e / den.den, 9) AS p
  FROM ex JOIN den USING (doc_id)
),
th AS (
  SELECT lang,
         CAST(SUM(CAST(p AS DECIMAL(20,9))) AS DOUBLE) / COUNT(*) AS thr
  FROM prob WHERE lang = actual_lang GROUP BY lang
),
cand AS (
  SELECT prob.doc_id, prob.actual_lang, prob.lang, prob.p
  FROM prob JOIN th ON th.lang = prob.lang
  WHERE prob.p >= th.thr
),
cj AS (
  SELECT doc_id, actual_lang, lang,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY p DESC, lang) AS rn
  FROM cand
)
SELECT actual_lang AS given_label, lang AS confident_label,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       actual_lang <> lang AS is_label_issue
FROM cj WHERE rn = 1 GROUP BY 1, 2
"""


@query("label_confident_joint", _CJ_SQL)
def label_confident_joint(spark, sf_dir):
    """CONFIDENT-LEARNING joint for label-noise detection (Northcutt,
    Jiang & Chuang, JAIR 2021 — the cleanlab algorithm): per-class
    thresholds t_j = mean self-confidence p_j over examples GIVEN label
    j; each example counts into cell C[given][argmax_{j: p_j >= t_j}],
    and off-diagonal mass is the estimated label-error set — the audit
    a labeled training set gets before anyone trusts its labels.
    Posterior p_j is the softmax of the shared NB decision scores
    (_nb_scored — the same fitted model the confusion matrix checks),
    computed max-shifted with round-9 fences on the exp outputs (exp of
    identical round-9 doubles agrees across engines at 9 decimals;
    piloted over 20k values) and an exact-decimal normalizer. Examples
    meeting no class threshold are dropped, per the paper. Shape: adds
    two per-doc combinable aggregations and one |classes|-row broadcast
    to the NB chain — same scale posture."""
    scored2 = _nb_scored(spark, sf_dir).transform(materialize)
    mx = scored2.groupBy("doc_id").agg(F.max("sc").alias("m"))
    ex = (scored2.join(mx, "doc_id")
          .select("doc_id", "actual_lang", "lang",
                  F.round(F.exp(F.col("sc") - F.col("m")), 9).alias("e"))
          .transform(materialize))  # feeds normalizer + probs
    den = (ex.groupBy("doc_id")
           .agg(F.sum(F.col("e").cast("decimal(20,9)")).cast("double")
                .alias("den")))
    prob = (ex.join(den, "doc_id")
            .select("doc_id", "actual_lang", "lang",
                    F.round(F.col("e") / F.col("den"), 9).alias("p"))
            .transform(materialize))  # feeds thresholds + counting
    th = (prob.filter(F.col("lang") == F.col("actual_lang"))
          .groupBy("lang")
          .agg((F.sum(F.col("p").cast("decimal(20,9)")).cast("double")
                / F.count(F.lit(1))).alias("thr")))
    cand = prob.join(F.broadcast(th), "lang").filter(
        F.col("p") >= F.col("thr"))
    cj = (cand.withColumn("rn", F.row_number().over(
              W.partitionBy("doc_id").orderBy(F.desc("p"), F.asc("lang"))))
          .filter(F.col("rn") == 1))
    return (cj.groupBy(F.col("actual_lang").alias("given_label"),
                       F.col("lang").alias("confident_label"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
            .withColumn("is_label_issue",
                        F.col("given_label") != F.col("confident_label")))


_LLR_MIN_C = 5


@query("token_collocations_llr", f"""
WITH arrs AS (SELECT string_split(text, ' ') AS a FROM documents),
bg AS (
  SELECT UNNEST(list_transform(range(1, len(a)), i -> a[i])) AS w1,
         UNNEST(list_transform(range(1, len(a)), i -> a[i + 1])) AS w2
  FROM arrs WHERE len(a) >= 2
),
c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS k11
        FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, CAST(SUM(k11) AS BIGINT) AS r1 FROM c12 GROUP BY 1),
c2 AS (SELECT w2, CAST(SUM(k11) AS BIGINT) AS s1 FROM c12 GROUP BY 1),
n AS (SELECT CAST(SUM(k11) AS BIGINT) AS n FROM c12),
cells AS (
  SELECT c12.w1, c12.w2, c12.k11,
         c1.r1 - c12.k11 AS k12,
         c2.s1 - c12.k11 AS k21,
         n.n - c1.r1 - c2.s1 + c12.k11 AS k22,
         c1.r1, c2.s1, n.n
  FROM c12 JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN n
  WHERE c12.k11 >= {_LLR_MIN_C}
)
SELECT w1, w2, k11 AS n_bigram,
       ROUND(2 * (
         (CASE WHEN k11 > 0 THEN k11 * LN(CAST(k11 * n AS DOUBLE)
                                          / CAST(r1 * s1 AS DOUBLE))
               ELSE 0e0 END)
         + (CASE WHEN k12 > 0 THEN k12 * LN(CAST(k12 * n AS DOUBLE)
                                            / CAST(r1 * (n - s1) AS DOUBLE))
                 ELSE 0e0 END)
         + (CASE WHEN k21 > 0 THEN k21 * LN(CAST(k21 * n AS DOUBLE)
                                            / CAST((n - r1) * s1 AS DOUBLE))
                 ELSE 0e0 END)
         + (CASE WHEN k22 > 0 THEN k22 * LN(CAST(k22 * n AS DOUBLE)
                                            / CAST((n - r1) * (n - s1)
                                                   AS DOUBLE))
                 ELSE 0e0 END)), 6) AS llr_g2
FROM cells
""")
def token_collocations_llr(spark, sf_dir):
    """DUNNING LOG-LIKELIHOOD-RATIO collocations (Dunning 1993, the G²
    statistic): for every ADJACENT bigram occurring >= {_LLR_MIN_C}
    times, the 2x2 contingency G² = 2 Σ k·ln(k·N / (rowtot·coltot)) —
    the collocation test that stays calibrated for RARE words where PMI
    (token_pmi_collocations, document-level co-occurrence) explodes.
    The phrase-mining ranker used before merging multiword expressions
    into tokenizer vocab. All four cell counts are exact integers
    derived from one bigram pass; each log term is an integer-product
    ratio (k·N / rowtot·coltot) so both engines derive identical
    doubles; G² is round-6 fenced (values reach ~1e5 — round-9 would
    exceed double's significant digits on ties). Marginal tables join
    back on single-token keys; nothing is all-pairs."""
    d = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    bg = (spread(d.filter(F.size(toks) >= 2))  # r15: one-task scan stage
          .select(F.posexplode(
              F.expr("transform(sequence(1, size(split(text, ' ')) - 1),"
                     " i -> struct(element_at(split(text, ' '), i) AS w1,"
                     " element_at(split(text, ' '), i + 1) AS w2))"))
              .alias("p0", "s"))
          .select(F.col("s.w1").alias("w1"), F.col("s.w2").alias("w2")))
    c12 = (bg.groupBy("w1", "w2")
           .agg(F.count(F.lit(1)).cast("bigint").alias("k11"))
           .transform(materialize))  # feeds both marginals + cells
    c1 = c12.groupBy("w1").agg(F.sum("k11").cast("bigint").alias("r1"))
    c2 = c12.groupBy("w2").agg(F.sum("k11").cast("bigint").alias("s1"))
    n = c12.agg(F.sum("k11").cast("bigint").alias("n"))
    cells = (c12.filter(F.col("k11") >= _LLR_MIN_C)
             .join(F.broadcast(c1), "w1").join(F.broadcast(c2), "w2")
             .crossJoin(F.broadcast(n))
             .select("w1", "w2", "k11", "r1", "s1", "n",
                     (F.col("r1") - F.col("k11")).alias("k12"),
                     (F.col("s1") - F.col("k11")).alias("k21"),
                     (F.col("n") - F.col("r1") - F.col("s1")
                      + F.col("k11")).alias("k22")))

    def term(k, row, col):
        return F.when(F.col(k) > 0, F.col(k) * F.log(
            (F.col(k) * F.col("n")).cast("double")
            / (row * col).cast("double"))).otherwise(F.lit(0.0))

    g2 = 2 * (term("k11", F.col("r1"), F.col("s1"))
              + term("k12", F.col("r1"), F.col("n") - F.col("s1"))
              + term("k21", F.col("n") - F.col("r1"), F.col("s1"))
              + term("k22", F.col("n") - F.col("r1"),
                     F.col("n") - F.col("s1")))
    return cells.select("w1", "w2", F.col("k11").alias("n_bigram"),
                        F.round(g2, 6).alias("llr_g2"))
