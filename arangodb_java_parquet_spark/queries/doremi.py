"""DoReMi-style domain-mixture OPTIMIZATION (Xie et al., "DoReMi:
Optimizing Data Mixtures Speeds Up Language Model Pretraining",
NeurIPS 2023) — the iterative exponentiated-gradient leg of the mixture
family (VERDICT r14 #6), beside the single-step `mixture_doremi_step`,
UniMax allocation and the data-constrained epoch planner.

The paper's Algorithm 1: per round, compute each domain's CLIPPED
excess loss (proxy-model loss minus reference-model loss, floored at
0), update the domain weights multiplicatively
``w ← normalize(w · exp(η · excess))``, mix with a uniform smoother,
and publish the AVERAGE of the per-round weights ᾱ (the quantity the
paper trains the final model with). The deterministic in-engine
re-expression uses the corpus unigram LM as the proxy loss (the same
CCNet-style model as `quality_unigram_logprob`, per-token round-9
ln(count/total) with a value-neutral singleton floor) and the
corpus-wide mean NLL as the reference, so excess_s = max(nll_s −
nll_corpus, 0): domains HARDER than the corpus average get up-weighted,
exactly the paper's signal shape. Losses are static here (no proxy
retraining), so the fixed-round EG trajectory — and especially its
round average ᾱ — is a deterministic, fully SQL-expressible function
of the corpus.

Determinism ledger (CLAUDE.md rules applied at write time): token logps
round-9 then decimal-summed; the per-source decimal sums are CARRIED AS
DECIMALS so the corpus reference is the exact sum of sums (never a
double×count product re-cast to decimal — the half-ulp boundary trap);
NLLs are exact-decimal / bigint plain divisions (IEEE-identical,
unrounded); excess clipped with greatest(·,0) before its round-9;
boost = round(exp(η·excess),9) (safe for round-9-identical inputs, the
r10 pilot); each round's products round-9 then decimal-normalized; the
smoother 1/100 and step η=2 derive from integer ratios at query time on
both engines — no python float literals in the SQL.

Scale: ONE corpus pass to the (source, token-logp) rollup (tokens never
shuffle by token — the head-vocab broadcast contract of
operators/curation.py:unigram_logprob); everything after is K-row
(K = #sources) arithmetic, broadcast-size at any corpus scale.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from arangodb_java_parquet_spark.materialize import materialize
from arangodb_java_parquet_spark.queries.common import query, t

_ETA_NUM, _ETA_DEN = 2, 1   # EG step size η = 2
_SMOOTH_DEN = 100           # uniform smoothing c = 1/100
_ROUNDS = 5                 # fixed EG rounds
_MIN_CNT = 2                # unigram-LM head-vocab floor threshold

_ETA_SQL = f"(CAST({_ETA_NUM} AS DOUBLE) / {_ETA_DEN})"
_C_SQL = f"(CAST(1 AS DOUBLE) / {_SMOOTH_DEN})"


def _doremi_sql() -> str:
    parts = [f"""WITH toks AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
),
vocab AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
vtot AS (SELECT SUM(cnt) AS total FROM vocab),
lp AS (
  SELECT tok, round(ln(cnt::DOUBLE / total::DOUBLE), 9) AS logp
  FROM vocab CROSS JOIN vtot WHERE cnt >= {_MIN_CNT}
),
fl AS (SELECT round(ln(1.0 / total::DOUBLE), 9) AS floor_logp FROM vtot),
dsrc AS (SELECT doc_id, source FROM documents),
stok AS (
  SELECT d.source, COALESCE(lp.logp, fl.floor_logp) AS logp
  FROM toks JOIN dsrc d USING (doc_id)
  LEFT JOIN lp USING (tok) CROSS JOIN fl
),
snll AS MATERIALIZED (
  -- exact decimal sum carried AS DECIMAL so ref is a sum of sums
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_toks,
         SUM(CAST(logp AS DECIMAL(20,9))) AS slp
  FROM stok GROUP BY source
),
ref AS (
  SELECT -(CAST(SUM(slp) AS DOUBLE) / SUM(n_toks)) AS ref_nll FROM snll
),
base AS MATERIALIZED (
  SELECT s.source,
         -(CAST(s.slp AS DOUBLE) / s.n_toks) AS nll,
         round(greatest(-(CAST(s.slp AS DOUBLE) / s.n_toks) - r.ref_nll,
                        0), 9) AS excess,
         round(exp({_ETA_SQL}
                   * round(greatest(-(CAST(s.slp AS DOUBLE) / s.n_toks)
                                    - r.ref_nll, 0), 9)), 9) AS boost,
         kk.k, n.n / t.tn AS w0
  FROM snll s CROSS JOIN ref r
  JOIN (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY source) n USING (source)
  CROSS JOIN (SELECT CAST(COUNT(*) AS DOUBLE) AS tn FROM documents) t
  CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM snll) kk
)"""]
    prev = "w0"
    for r in range(1, _ROUNDS + 1):
        src = "base" if r == 1 else f"w{r - 1}"
        parts.append(f""",
b{r} AS MATERIALIZED (
  SELECT source, excess, k, w0, boost, round({prev} * boost, 9) AS b
  FROM {src}
),
w{r} AS MATERIALIZED (
  SELECT source, excess, k, w0, boost,
         round((1 - {_C_SQL}) * (b / NULLIF(zz.z, 0)) + {_C_SQL} / k, 9) AS w{r}v
  FROM b{r} CROSS JOIN (
    SELECT CAST(SUM(CAST(b AS DECIMAL(20,9))) AS DOUBLE) AS z
    FROM b{r}) zz
)""")
        prev = f"w{r}v"
    return "".join(parts)


def _doremi_final_sql() -> str:
    # re-join the K-row per-round tables to average the trajectory
    joins = " ".join(
        f"JOIN (SELECT source, w{r}v FROM w{r}) j{r} USING (source)"
        for r in range(1, _ROUNDS))
    avg_terms = " + ".join(
        [f"CAST(j{r}.w{r}v AS DECIMAL(20,9))" for r in range(1, _ROUNDS)]
        + [f"CAST(f.w{_ROUNDS}v AS DECIMAL(20,9))"])
    return _doremi_sql() + f"""
SELECT f.source,
       round(f.w0, 9) AS natural_share,
       f.excess AS excess_nll,
       f.w{_ROUNDS}v AS final_weight,
       round(CAST(({avg_terms}) AS DOUBLE) / {_ROUNDS}, 9) AS avg_weight
FROM w{_ROUNDS} f {joins}
"""


def _corpus_lm(d):
    """Shared corpus-unigram-LM head-vocab build (one source of truth for
    both entries in this module — review r15; the same contract as
    operators/curation.py:unigram_logprob's bounded-broadcast model):
    returns (toks, lp, fl) = the (doc_id, tok) explode, the round-9
    head-vocab logp table (cnt >= _MIN_CNT), and the 1-row OOV floor."""
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    vtot = vocab.agg(F.sum("cnt").alias("total"))
    lp = (vocab.crossJoin(F.broadcast(vtot))
          .filter(F.col("cnt") >= _MIN_CNT)
          .select("tok", F.round(F.log(F.col("cnt").cast("double")
                                       / F.col("total").cast("double")), 9)
                  .alias("logp")))
    fl = vtot.select(F.round(F.log(F.lit(1.0)
                                   / F.col("total").cast("double")), 9)
                     .alias("floor_logp"))
    return toks, lp, fl


@query("mixture_doremi_fit", _doremi_final_sql())
def mixture_doremi_fit(spark, sf_dir):
    """Fixed-round DoReMi EG fit: per source the natural share, clipped
    unigram-NLL excess vs the corpus reference, the round-5 weight, and
    the paper's round-averaged weight ᾱ. See module docstring for the
    full contract."""
    d = t(spark, sf_dir, "documents")
    toks, lp, fl = _corpus_lm(d)
    stok = (toks.join(d.select("doc_id", "source"), "doc_id")
            .join(F.broadcast(lp), "tok", "left")
            .crossJoin(F.broadcast(fl))
            .select("source",
                    F.coalesce("logp", "floor_logp").alias("logp")))
    snll = materialize(
        stok.groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_toks"),
             F.sum(F.col("logp").cast("decimal(20,9)")).alias("slp")))
    ref = snll.agg(
        (-(F.sum("slp").cast("double") / F.sum("n_toks"))).alias("ref_nll"))
    counts = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = d.agg(F.count(F.lit(1)).cast("double").alias("tn"))
    ks = snll.agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    eta = F.lit(_ETA_NUM).cast("double") / F.lit(_ETA_DEN)
    c = F.lit(1).cast("double") / F.lit(_SMOOTH_DEN)
    nll = -(F.col("slp").cast("double") / F.col("n_toks"))
    excess = F.round(F.greatest(nll - F.col("ref_nll"), F.lit(0.0)), 9)
    base = (snll.crossJoin(F.broadcast(ref))
            .join(counts, "source")
            .crossJoin(F.broadcast(tot))
            .crossJoin(F.broadcast(ks))
            .select("source",
                    excess.alias("excess"),
                    F.round(F.exp(eta * excess), 9).alias("boost"),
                    "k",
                    (F.col("n") / F.col("tn")).alias("w0")))
    cur = materialize(base)
    prev_col = "w0"
    weight_cols = []
    for r in range(1, _ROUNDS + 1):
        # materialize the K-row b table per round: it feeds BOTH the
        # normalizer aggregate and the next-round projection, and
        # without the truncation the 5-round chain re-expands the
        # whole upstream tree once per reference (plan report showed
        # 159 exchanges / 96 checkpoint readbacks of 20-row data —
        # review r15). Values unchanged; each round's plan is now a
        # constant-size block over the previous round's scan.
        b = materialize(cur.withColumn(
            "b", F.round(F.col(prev_col) * F.col("boost"), 9)), "iter")
        z = b.agg(F.sum(F.col("b").cast("decimal(20,9)")).cast("double")
                  .alias("z"))
        cur = (b.crossJoin(F.broadcast(z))
               .withColumn(f"w{r}v",
                           F.round((F.lit(1.0) - c)
                                   * (F.col("b")
                                      / F.nullif(F.col("z"), F.lit(0.0)))
                                   + c / F.col("k"), 9))
               .drop("b", "z"))
        prev_col = f"w{r}v"
        weight_cols.append(f"w{r}v")
    avg = sum((F.col(cn).cast("decimal(20,9)") for cn in weight_cols[1:]),
              F.col(weight_cols[0]).cast("decimal(20,9)"))
    return cur.select(
        "source",
        F.round(F.col("w0"), 9).alias("natural_share"),
        F.col("excess").alias("excess_nll"),
        F.col(f"w{_ROUNDS}v").alias("final_weight"),
        F.round(avg.cast("double") / _ROUNDS, 9).alias("avg_weight"))


# ---------------------------------------------------------------------------
# RHO-loss sample selection (Mindermann et al., "Prioritized Training on
# Points that are Learnable, Worth Learning, and Not Yet Learnt", ICML
# 2022) — the SAMPLE-level counterpart of the DoReMi domain fit above:
# reducible holdout loss = training-model loss − irreducible-loss-model
# loss; select the top-N docs. The deterministic in-engine proxy pair:
# the corpus-wide unigram LM is the "training" model, the doc's OWN
# LANGUAGE's unigram LM is the irreducible-loss model (a doc that the
# corpus model finds hard but its in-language model finds easy is
# learnable signal, not noise — the paper's selection logic exactly).
# ---------------------------------------------------------------------------

_RHO_TOPN = 50


_RHO_SQL = f"""
WITH toks AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
),
dl AS (SELECT doc_id, lang FROM documents),
ltoks AS (
  SELECT t.doc_id, d.lang, t.tok FROM toks t JOIN dl d USING (doc_id)
),
vocab AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
vtot AS (SELECT SUM(cnt) AS total FROM vocab),
lp AS (
  SELECT tok, round(ln(cnt::DOUBLE / total::DOUBLE), 9) AS logp
  FROM vocab CROSS JOIN vtot WHERE cnt >= {_MIN_CNT}
),
fl AS (SELECT round(ln(1.0 / total::DOUBLE), 9) AS floor_logp FROM vtot),
lvocab AS (
  SELECT lang, tok, COUNT(*) AS cnt FROM ltoks GROUP BY lang, tok
),
lvtot AS (SELECT lang, SUM(cnt) AS total FROM lvocab GROUP BY lang),
llp AS (
  SELECT v.lang, v.tok,
         round(ln(v.cnt::DOUBLE / t.total::DOUBLE), 9) AS logp
  FROM lvocab v JOIN lvtot t USING (lang) WHERE v.cnt >= {_MIN_CNT}
),
lfl AS (
  SELECT lang, round(ln(1.0 / total::DOUBLE), 9) AS floor_logp
  FROM lvtot
),
scored AS (
  SELECT l.doc_id, l.lang,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         -- train loss (corpus LM) and irreducible loss (in-lang LM):
         -- per-token round-9 logps, exact decimal sums, plain /count
         -(CAST(SUM(CAST(COALESCE(lp.logp, fl.floor_logp)
                         AS DECIMAL(20,9))) AS DOUBLE) / COUNT(*))
           AS train_nll,
         -(CAST(SUM(CAST(COALESCE(llp.logp, lfl.floor_logp)
                         AS DECIMAL(20,9))) AS DOUBLE) / COUNT(*))
           AS holdout_nll
  FROM ltoks l
  LEFT JOIN lp ON lp.tok = l.tok CROSS JOIN fl
  LEFT JOIN llp ON llp.lang = l.lang AND llp.tok = l.tok
  JOIN lfl ON lfl.lang = l.lang
  GROUP BY l.doc_id, l.lang
),
ranked AS (
  SELECT doc_id, lang, n_tokens,
         round(train_nll, 9) AS train_nll,
         round(holdout_nll, 9) AS holdout_nll,
         -- + 0.0 fence: the difference can round to ZERO FROM BELOW
         -- (-1e-12 -> -0.0 on one engine, 0.0 on the other; CLAUDE.md)
         round(train_nll - holdout_nll, 9) + 0.0 AS rho_loss,
         ROW_NUMBER() OVER (ORDER BY round(train_nll - holdout_nll, 9)
                              DESC, doc_id ASC) AS rn
  FROM scored
)
SELECT doc_id, lang, n_tokens, train_nll, holdout_nll, rho_loss,
       CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {_RHO_TOPN}
"""


@query("select_rho_loss", _RHO_SQL)
def select_rho_loss(spark, sf_dir):
    """Top-{N} docs by REDUCIBLE loss (RHO-loss): corpus-unigram NLL
    minus in-language-unigram NLL, both CCNet-style round-9/decimal-sum
    models — high values are docs the mixture finds hard but their own
    domain finds easy, i.e. learnable and not yet learnt. One corpus
    pass builds both LMs (token rollups are map-side combinable; the
    in-language model shuffles by (lang, tok), bounded by per-language
    vocabulary); scoring is a corpus-scale projection against the two
    broadcast head vocabularies; the top-N is a TakeOrdered, never a
    global sort."""
    d = t(spark, sf_dir, "documents")
    toks, lp, fl = _corpus_lm(d)
    ltoks = materialize(
        toks.join(d.select("doc_id", "lang"), "doc_id"))
    lvocab = ltoks.groupBy("lang", "tok").agg(
        F.count(F.lit(1)).alias("cnt"))
    lvtot = lvocab.groupBy("lang").agg(F.sum("cnt").alias("total"))
    llp = (lvocab.join(lvtot, "lang")
           .filter(F.col("cnt") >= _MIN_CNT)
           .select("lang", "tok",
                   F.round(F.log(F.col("cnt").cast("double")
                                 / F.col("total").cast("double")), 9)
                   .alias("llogp")))
    lfl = lvtot.select("lang",
                       F.round(F.log(F.lit(1.0)
                                     / F.col("total").cast("double")), 9)
                       .alias("lfloor"))
    scored = (ltoks
              .join(F.broadcast(lp), "tok", "left")
              .crossJoin(F.broadcast(fl))
              .join(F.broadcast(llp), ["lang", "tok"], "left")
              .join(F.broadcast(lfl), "lang")
              .groupBy("doc_id", "lang")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
                   (-(F.sum(F.coalesce("logp", "floor_logp")
                            .cast("decimal(20,9)")).cast("double")
                      / F.count(F.lit(1)))).alias("train_nll_raw"),
                   (-(F.sum(F.coalesce("llogp", "lfloor")
                            .cast("decimal(20,9)")).cast("double")
                      / F.count(F.lit(1)))).alias("holdout_nll_raw")))
    rho = F.round(F.col("train_nll_raw") - F.col("holdout_nll_raw"), 9)
    # top-N via orderBy+limit = TakeOrderedAndProject (per-partition
    # heaps); a global un-partitioned row_number window would funnel
    # every per-doc row through ONE task (review r15). rn is then a
    # window over the 50 surviving rows only. + 0.0 fences the -0.0
    # round-from-below case (CLAUDE.md), mirrored in the oracle.
    top = (scored
           .select("doc_id", "lang", "n_tokens",
                   F.round("train_nll_raw", 9).alias("train_nll"),
                   F.round("holdout_nll_raw", 9).alias("holdout_nll"),
                   (rho + F.lit(0.0)).alias("rho_loss"),
                   rho.alias("__rho_key"))
           .orderBy(F.desc("__rho_key"), F.asc("doc_id"))
           .limit(_RHO_TOPN))
    w = W.orderBy(F.desc("__rho_key"), F.asc("doc_id"))
    return (top.withColumn("rn", F.row_number().over(w).cast("bigint"))
            .drop("__rho_key"))
