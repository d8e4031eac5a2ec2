"""Information-retrieval and corpus-statistics operators for the LLM data
pipeline: BM25 ranking, inverted-index posting lists, per-document token
entropy, and per-source KL divergence against the corpus unigram
distribution.

Scale notes (100 TB):
  * Every operator here reduces over (doc, token) or (source, token) pairs
    with combinable aggregations — partial aggregation happens map-side and
    only vocabulary-sized or result-sized tables shuffle.
  * Document-frequency / corpus-distribution side tables are
    vocabulary-sized, not corpus-sized, and are broadcast.
  * Float sums follow the repo determinism rule: per-term contributions are
    rounded then EXACT-decimal summed (see queries/common.py docstring), so
    results are bit-identical under any partitioning or engine.

Reference provenance: the reference repo (ParquetArangoLoader.java) is a
loader with no analytics surface; these operators are part of the
beyond-reference LLM-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, tok) pairs — whitespace tokenization, identical to the DuckDB
    oracle's string_split."""
    return df.select(F.col(id_col),
                     F.explode(F.split(F.col(text_col), " ")).alias("tok"))


def _round_dsum(term: Column) -> Column:
    """Round a per-row float contribution to 9 digits then exact-decimal
    sum — the engine-portable form of a float SUM (order-insensitive)."""
    return F.sum(F.round(term, 9).cast("decimal(30,9)")).cast("double")


# BM25's standard term-saturation and length-normalization constants
K1, B = 1.2, 0.75


def bm25_scores(docs: DataFrame, text_col: str, id_col: str,
                query_terms: list[str]) -> DataFrame:
    """BM25 document scores for a fixed bag of query terms.

    score(d) = sum over t in query of
        idf(t) * tf * (K1+1) / (tf + K1 * (1 - B + B * dl/avgdl))
    with the standard Robertson/Sparck-Jones idf
        idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5)).

    Shapes: tf on the (doc, term) pairs that match the query is a
    combinable aggregation over a filtered explode (the filter prunes to
    |query| terms before the shuffle); df is |query| rows; N/avgdl are
    scalars. Everything except the per-doc length table is broadcast-sized.
    Output: (id, dl, score) for docs matching >= 1 term.
    """
    toks = _tokens(docs, text_col, id_col)
    dl = docs.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).alias("dl"))
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col(text_col), " "))).alias("total_len")
    ).collect()[0]
    n_docs, avgdl = stats["n_docs"], stats["total_len"] / stats["n_docs"]

    qtoks = toks.filter(F.col("tok").isin(query_terms))
    tf = qtoks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_t = (qtoks.groupBy("tok")
            .agg(F.countDistinct(id_col).alias("df")))
    idf = F.log(F.lit(1.0)
                + (F.lit(float(n_docs)) - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    contrib = (F.col("idf") * F.col("tf") * (K1 + 1.0)
               / (F.col("tf") + K1 * (1.0 - B + B * F.col("dl") / avgdl)))
    return (tf.join(F.broadcast(df_t.select("tok", idf.alias("idf"))), "tok")
            .join(dl, id_col)
            .groupBy(id_col, "dl")
            .agg(_round_dsum(contrib).alias("score")))


# doc ids kept per posting list of inverted_index
POSTING_CAP = 10


def inverted_index(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Inverted index: per token, document frequency, collection frequency,
    and a sorted, CAPPED posting list (first POSTING_CAP doc ids).

    df/cf are plain combinable aggregations over (tok, id) — they scale.
    The posting list is capped BEFORE collect_list via a two-phase
    row_number over the pre-aggregated (tok, id) pairs — the window input
    is one row per distinct (tok, doc), and only POSTING_CAP survivors
    per token reach collect_list, so no hot-token array ever exceeds the
    cap. Output: (tok, df, cf, postings).
    """
    toks = _tokens(docs, text_col, id_col)
    per_doc = toks.groupBy("tok", id_col).agg(
        F.count(F.lit(1)).alias("tf"))
    stats = per_doc.groupBy("tok").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("cf"))
    w = Window.partitionBy("tok").orderBy(id_col)
    capped = (per_doc.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= POSTING_CAP))
    postings = capped.groupBy("tok").agg(
        F.sort_array(F.collect_list(id_col)).alias("postings"))
    return stats.join(postings, "tok")


def token_entropy(docs: DataFrame, text_col: str, id_col: str,
                  toks: DataFrame | None = None) -> DataFrame:
    """Per-document unigram token entropy (nats):
    H(d) = -sum_t p(t|d) * ln p(t|d),  p = tf / n_tokens.

    Two combinable aggregations keyed by doc — no corpus-wide state at all;
    this is a pure per-document map-reduce that scales linearly.
    ``toks`` injects a precomputed/materialized (id, tok) table so a
    composite caller tokenizes the corpus once for several signals.
    Output: (id, n_tokens, n_distinct, entropy).
    """
    if toks is None:
        toks = _tokens(docs, text_col, id_col)
    tf = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("tf"))
    n = tf.groupBy(id_col).agg(F.sum("tf").alias("n_tokens"),
                               F.count(F.lit(1)).alias("n_distinct"))
    joined = tf.join(n, id_col)
    p = F.col("tf") / F.col("n_tokens")
    term = -p * F.log(p)
    return (joined.groupBy(id_col, "n_tokens", "n_distinct")
            .agg(_round_dsum(term).alias("entropy")))


def source_kl_divergence(docs: DataFrame, text_col: str, id_col: str,
                         source_col: str) -> DataFrame:
    """KL(P_source || P_corpus) over unigram token distributions — the
    standard mixture-drift diagnostic for a multi-source training corpus.

    Token counts per source and for the corpus are combinable aggregations;
    the corpus distribution is vocabulary-sized and broadcast into the
    per-source join. Every source token appears in the corpus by
    construction so the log ratio is always finite.
    Output: (source, n_tokens, kl).
    """
    toks = docs.select(F.col(source_col).alias("source"),
                       F.explode(F.split(F.col(text_col), " ")).alias("tok"))
    src_tf = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).alias("tf_s"))
    src_n = src_tf.groupBy("source").agg(F.sum("tf_s").alias("n_s"))
    corpus_tf = src_tf.groupBy("tok").agg(F.sum("tf_s").alias("tf_c"))
    n_c = corpus_tf.agg(F.sum("tf_c")).collect()[0][0]
    p_s = F.col("tf_s") / F.col("n_s")
    p_c = F.col("tf_c") / F.lit(float(n_c))
    term = p_s * F.log(p_s / p_c)
    return (src_tf.join(src_n, "source")
            .join(F.broadcast(corpus_tf), "tok")
            .groupBy("source")
            .agg(F.max("n_s").alias("n_tokens"),
                 _round_dsum(term).alias("kl")))
