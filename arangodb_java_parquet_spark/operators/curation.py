"""Dataset-curation operators for large-scale training-data pipelines:
benchmark decontamination, duplicate-cluster resolution (connected
components), deterministic sampling, and token-budget sequence packing.

All hashing is md5-based (engine-portable, like operators/dedup.py) so every
operator here is DuckDB-oracle-checkable bit-for-bit.

Scale design notes, per operator:
  * decontaminate: the benchmark side is tiny (a held-out eval set, typically
    1e3-1e6 docs) — its n-gram hash set is BROADCAST, so the 100 TB train
    side never shuffles: one scan, map-side semi-join, done.
  * connected_components: iterative min-label propagation; each iteration is
    one equi-join + one map-side-combinable MIN aggregation over the EDGE
    list (pairs), never the documents. Converges in O(diameter) rounds —
    near-dup graphs are unions of small cliques, so 2-4 rounds in practice.
    (At extreme scale the large-star/small-star variant halves rounds; the
    join/agg building blocks are the same.)
  * hash_sample: a pure map-side filter — no shuffle, no RNG state, same
    rows selected on any cluster layout, any partitioning, any engine.
  * pack_sequences: running token sums within an explicit shard column.
    Packing is inherently sequential, so the scalable form is per-shard
    packing (exactly what training pipelines do: pack within a shard, shards
    in parallel); the window partitions by shard and never sees a global
    sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from arangodb_java_parquet_spark.materialize import materialize


def decontaminate(train: DataFrame, benchmark: DataFrame, text_col: str,
                  id_col: str, n: int = 5) -> DataFrame:
    """Per-train-doc benchmark contamination: the count of distinct word
    ``n``-grams the doc shares with ANY benchmark document.

    The industry-standard eval-leakage guard (n-gram overlap against held-out
    benchmarks) expressed as a broadcast semi-structure: benchmark n-grams
    are hashed to md5 and broadcast; train n-grams join map-side. Output:
    (id, n_hit_grams) for contaminated docs only — anti-join the result
    against the corpus to drop them.
    """
    def grams(df):
        e = F.expr(
            f"transform(sequence(1, greatest(size(split({text_col},' '))-{n-1}, 1)),"
            f" i -> md5(array_join(slice(split({text_col},' '), i, {n}), ' ')))")
        return df.select(F.col(id_col), F.explode(e).alias("gh")).distinct()

    bench_grams = grams(benchmark).select("gh").distinct()
    return (grams(train)
            .join(F.broadcast(bench_grams), "gh")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_hit_grams")))


def connected_components(pairs: DataFrame, a_col: str = "doc_a",
                         b_col: str = "doc_b", max_iter: int = 20
                         ) -> DataFrame:
    """Connected components over an undirected pair list by iterative
    min-label propagation: every node's label converges to the smallest
    node id reachable from it. Output: (node, component) — the canonical
    dedup-cluster assignment (keep ``node == component``, drop the rest).

    Deterministic: labels are min-ids, independent of iteration order or
    partitioning. Each round does (a) a neighbor-min step (join the edge
    list with current labels, map-side-combinable MIN) and (b) a
    pointer-doubling shortcut (a node's label jumps to its label's label) —
    (b) turns O(diameter) convergence into O(log n), the same acceleration
    union-find path-halving / large-star-small-star give. Labels only ever
    DECREASE, so the fixpoint test is a scalar checksum (sum of labels
    unchanged ⟺ nothing changed) — one cheap aggregate action per round,
    the standard driver-coordinated loop of iterative graph algorithms.
    Raises RuntimeError if the labels still change after ``max_iter``
    rounds.
    """
    # no edge dedup: duplicate edges cannot change a MIN aggregation, so a
    # distinct here would be a pure extra shuffle of the widest relation
    edges = (pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
             .union(pairs.select(F.col(b_col).alias("src"),
                                 F.col(a_col).alias("dst")))
             .transform(materialize))
    labels = (edges.select(F.col("src").alias("node")).distinct()
              .withColumn("component", F.col("node")))

    def neighbor_min(lab):
        # (a) candidate label for each node: min over (its own label,
        # labels of all neighbors)
        neighbor = (edges.join(lab, edges["dst"] == lab["node"])
                    .select(F.col("src").alias("node"),
                            F.col("component")))
        return (lab.select("node", "component").union(neighbor)
                .groupBy("node")
                .agg(F.min("component").alias("component")))

    return _min_label_fixpoint(labels, neighbor_min, "node", max_iter,
                               "connected_components")


def connected_components_bipartite(membership: DataFrame, node_col: str,
                                   group_cols: list[str],
                                   max_iter: int = 20) -> DataFrame:
    """Connected components over a node×group bipartite membership list
    (e.g. docs × LSH band buckets) WITHOUT enumerating pairs: each round
    takes the min label per group (map-side-combinable) and joins it back
    to members. A k-member bucket costs O(k) per round here versus the
    O(k²) candidate pairs the pairwise formulation generates — at corpus
    scale, where one degenerate LSH bucket can hold thousands of
    near-identical docs, this is the difference between a shuffle of
    millions and billions of rows.

    Only nodes sharing a group with ≥2 distinct nodes are emitted (matching
    the pairwise operator's node universe). Output: (node, component) with
    component = min reachable node id. Deterministic; same monotone-sum
    convergence check as :func:`connected_components`.
    """
    # restrict to buckets that actually connect something. A window count
    # over the bucket does it in ONE pass with one shuffle — the
    # groupBy+self-join formulation evaluates the (expensive) upstream
    # membership pipeline twice, once per join branch. Plain COUNT(*): a
    # node appears at most once per bucket, so it equals COUNT(DISTINCT)
    # without the distinct-agg cost.
    grp = [F.col(c) for c in group_cols]
    wb = Window.partitionBy(*grp)
    member = (membership
              .withColumn("__n", F.count(F.lit(1)).over(wb))
              .filter(F.col("__n") >= 2)
              .select(node_col, *grp)
              .transform(materialize))
    labels = (member.select(node_col).distinct()
              .withColumn("component", F.col(node_col)))
    def propagate(lab):
        gmin = (member.join(lab, node_col)
                .groupBy(*grp).agg(F.min("component").alias("gmin")))
        # every node is a member of each of its buckets, so its own label
        # participates in those buckets' minima: min-over-buckets is
        # already <= the old label, and IS the new label — no join back
        # against the old labels needed
        return (member.join(gmin, group_cols)
                .groupBy(node_col).agg(F.min("gmin").alias("component")))

    # `merged` feeds BOTH branches of the shortcut join, so it gets its
    # own lazy materialization — without it the whole propagate hop is
    # recomputed once per branch (the same measured-2x trap the per-round
    # checkpoint already guards).
    labels = _min_label_fixpoint(
        labels, lambda lab: propagate(lab).transform(materialize, "iter"),
        node_col, max_iter, "connected_components_bipartite")
    return labels.select(F.col(node_col).alias("node"), "component")


def _min_label_fixpoint(labels: DataFrame, hop, node_col: str,
                        max_iter: int, who: str) -> DataFrame:
    """The round loop both connected-components variants share: ``hop``
    (one min-label propagation step, variant-specific) then a
    pointer-doubling shortcut — every component value is itself a node id
    (min reachable so far), so the label's-label self-join is total and
    least() keeps the monotone decrease; the shortcut turns long-chain
    convergence into O(log n) rounds. Labels only ever decrease, so an
    unchanged label sum is the fixpoint. Per round: one eager checkpoint
    and one sum collect."""
    prev_sum = None
    for _ in range(max_iter):
        merged = hop(labels)
        lab2 = merged.select(F.col(node_col).alias("component"),
                             F.col("component").alias("cc"))
        labels = (merged.join(lab2, "component")
                  .select(F.col(node_col),
                          F.least("component", "cc").alias("component"))
                  .transform(materialize, "iter", True))
        cur_sum = labels.agg(F.sum("component")).collect()[0][0]
        if cur_sum == prev_sum:
            return labels
        prev_sum = cur_sum
    # returning unconverged labels would silently split true components
    # (review r14). Callers with long-chain graphs pass a larger
    # max_iter; an error here is a wrong answer prevented.
    raise RuntimeError(
        f"{who}: labels still changing after max_iter={max_iter} rounds "
        f"— raise max_iter (graph diameter exceeds it)")


def hash_sample(df: DataFrame, id_col: str, rate: float,
                stratum_col: str | None = None,
                rates: dict[str, float] | None = None) -> DataFrame:
    """Deterministic sampling: keep a row iff the first 8 md5 hex digits of
    its (stratum:)id key, read as a 32-bit integer fraction, fall under the
    rate. With ``stratum_col``+``rates``, each stratum gets its own rate
    (language/source rebalancing).

    Unlike ``df.sample`` (seeded per-partition RNG — results change with
    partitioning), this selects the same rows on any engine and layout, so
    a resampled corpus is reproducible bit-for-bit.
    """
    if stratum_col is None:
        key = F.concat(F.lit("s:"), F.col(id_col).cast("string"))
        frac = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("double") \
            / float(1 << 32)
        return df.filter(frac < rate)
    key = F.concat(F.col(stratum_col), F.lit(":"),
                   F.col(id_col).cast("string"))
    frac = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("double") \
        / float(1 << 32)
    rate_expr = F.lit(rate)
    for stratum, r in (rates or {}).items():
        rate_expr = F.when(F.col(stratum_col) == stratum, F.lit(r)) \
            .otherwise(rate_expr)
    return df.filter(frac < rate_expr)


def pack_sequences(df: DataFrame, id_col: str, tokens_col: str,
                   shard_col: str, budget: int) -> DataFrame:
    """Greedy contiguous sequence packing: within each shard, walk docs in
    id order accumulating token counts; a document's sequence number is
    floor(start_offset / budget). Output adds (seq_id, offset_in_seq).

    This is the streaming formulation (documents may straddle a budget
    boundary — training pipelines truncate or pad at materialization time);
    it is fully window-expressible, integer-exact, and partitions by shard
    so no global sort ever happens.
    """
    w = (Window.partitionBy(shard_col).orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = F.sum(tokens_col).over(w)
    start = (cum - F.col(tokens_col)).alias("start_offset")
    return (df.select(F.col(id_col), F.col(shard_col), F.col(tokens_col),
                      start)
            .withColumn("seq_id", F.floor(F.col("start_offset") / budget))
            .withColumn("offset_in_seq", F.col("start_offset") % budget))


# the LM model tables' frequency floor: rarer keys fall to the OOV floor
MIN_COUNT = 2
# stupid backoff's discount on the unigram fallback (Brants et al. 2007)
BACKOFF_ALPHA = 0.4


def unigram_logprob(df: DataFrame, text_col: str, id_col: str,
                    toks: DataFrame | None = None,
                    vocab: DataFrame | None = None) -> DataFrame:
    """Corpus-LM quality score (CCNet-style): fit a unigram language model
    on the corpus itself (token -> count / total), then score every
    document by the mean log-probability of its tokens. Low scores flag
    gibberish / boilerplate; training pipelines threshold or bucket on it.

    Scale: the broadcast side is the FLOORED vocab — only tokens with
    count >= ``MIN_COUNT`` (2) carry a fitted log-prob; everything rarer
    (URLs, typos, code identifiers — the long tail that at 100 TB makes
    the raw distinct-token vocab billions of entries) falls through a
    LEFT join to a single floor constant ln(1/total), which is what CCNet
    effectively does for OOV. The floored vocab has <= total/2 entries by
    pigeonhole and in practice (Zipf) orders of magnitude fewer. The
    floor is VALUE-NEUTRAL (a singleton's fitted logp is exactly
    ln(1/total)), so the bounded-broadcast plan produces bit-identical
    scores to the exact model — but total/2 is NOT a broadcastable bound
    at 100 TB, where the model needs a higher floor or a top-K cap. The
    vocabulary aggregation itself
    is map-side combinable; corpus tokens are scanned twice but never
    shuffled by token.

    Determinism: ln() output is rounded to 9 digits per token type, then
    summed exactly in decimal (the engines' libm may differ in the last
    ulp; per-value rounding confines that to a vanishing boundary set,
    and the decimal sum removes order sensitivity).

    ``toks`` / ``vocab`` inject precomputed base tables — the (id, tok)
    explode and the (tok, cnt) count table — so a composite caller (or a
    caller holding the stored LM artifacts) never re-tokenizes the
    corpus here; values are identical by construction.

    Output: (id, n_tokens, avg_logprob).
    """
    if toks is None:
        toks = df.select(
            F.col(id_col),
            F.explode(F.split(F.col(text_col), " ")).alias("tok"))
    if vocab is None:
        vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    lp = (vocab.filter(F.col("cnt") >= MIN_COUNT)
          .crossJoin(F.broadcast(total))
          .select("tok",
                  F.round(F.log(F.col("cnt").cast("double")
                                / F.col("total").cast("double")), 9)
                  .alias("logp")))
    floor = total.select(
        F.round(F.log(F.lit(1.0) / F.col("total").cast("double")), 9)
        .alias("floor_logp"))
    scored = (toks.join(F.broadcast(lp), "tok", "left")
              .crossJoin(F.broadcast(floor))
              .select(F.col(id_col),
                      F.coalesce(F.col("logp"), F.col("floor_logp"))
                      .alias("logp")))
    return (scored.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.round(F.sum(F.col("logp").cast("decimal(20,9)"))
                         .cast("double") / F.count(F.lit(1)), 9)
                 .alias("avg_logprob")))


def bigram_logprob_backoff(df: DataFrame, text_col: str, id_col: str,
                           bigrams: DataFrame | None = None,
                           uni: DataFrame | None = None) -> DataFrame:
    """Bigram language-model quality score with stupid backoff
    (Brants et al. 2007): score every document by the mean log-probability
    of its adjacent token pairs, backing off to the unigram model (scaled
    by ``BACKOFF_ALPHA`` = 0.4) when the bigram is rarer than ``MIN_COUNT``.

      P(w2|w1) = cnt2(w1,w2) / cnt1(w1)        if cnt2 >= MIN_COUNT
               = alpha * cnt1(w2) / total      else (fitted unigram)
               = alpha * 1 / total             else (OOV floor)

    A sharper gibberish detector than the unigram score: shuffled or
    templated text keeps plausible unigrams but implausible transitions.

    Scale story mirrors :func:`unigram_logprob`: both model tables are
    frequency-floored BEFORE broadcast, so the broadcast side is the
    distribution head (<= total/2 entries by pigeonhole, far fewer under
    Zipf), never the raw vocabulary. The count aggregations are
    map-side combinable, and corpus tokens are never shuffled by token.
    The backoff threshold is not a compromise — stupid backoff is DEFINED
    by trusting only frequent bigrams.

    Determinism: per-type ln() rounded to 9 digits, exact decimal sums.
    Output: (id, n_bigrams, avg_logprob) for docs with >= 2 tokens.

    ``bigrams`` / ``uni`` let a caller inject PRECOMPUTED base tables —
    the stored (id, bg) corpus bigram table and the (tok, cnt1) unigram
    count table that every LM-scoring entry starts from (the fit-once /
    consume-later split, queries/ir_analytics._lm_bigrams_stored): when
    supplied, the corpus tokenize+explode never runs here at all, the
    consumers start from a parquet scan. Values are identical by
    construction — both tables are exact (bigint, string) rows that
    round-trip parquet bit-exactly.
    """
    arr = F.split(F.col(text_col), " ")
    if bigrams is None:
        bigram_expr = F.expr(
            f"transform(sequence(0, size(split({text_col}, ' ')) - 2),"
            f" i -> concat(split({text_col}, ' ')[i], ' ',"
            f" split({text_col}, ' ')[i + 1]))")
        bigrams = (df.filter(F.size(arr) >= 2)
                   .select(F.col(id_col),
                           F.explode(bigram_expr).alias("bg")))
    if uni is None:
        toks = df.select(F.explode(arr).alias("tok"))
        uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt1"))
    total = uni.agg(F.sum("cnt1").alias("total"))
    bi = bigrams.groupBy("bg").agg(F.count(F.lit(1)).alias("cnt2"))

    w1 = F.element_at(F.split(F.col("bg"), " "), 1)
    fitted = (bi.filter(F.col("cnt2") >= MIN_COUNT)
              .withColumn("w1", w1)
              .join(uni.select(F.col("tok").alias("w1"),
                               F.col("cnt1").alias("cnt1_w1")), "w1")
              .select("bg",
                      F.round(F.log(F.col("cnt2").cast("double")
                                    / F.col("cnt1_w1").cast("double")), 9)
                      .alias("logp2")))
    back = (uni.filter(F.col("cnt1") >= MIN_COUNT)
            .crossJoin(F.broadcast(total))
            .select(F.col("tok").alias("w2"),
                    F.round(F.log(F.lit(BACKOFF_ALPHA)
                                  * (F.col("cnt1").cast("double")
                                     / F.col("total").cast("double"))), 9)
                    .alias("logp_bo")))
    floor = total.select(
        F.round(F.log(F.lit(BACKOFF_ALPHA)
                      * (F.lit(1.0) / F.col("total").cast("double"))), 9)
        .alias("floor_logp"))
    scored = (bigrams
              .join(F.broadcast(fitted), "bg", "left")
              .withColumn("w2", F.element_at(F.split(F.col("bg"), " "), 2))
              .join(F.broadcast(back), "w2", "left")
              .crossJoin(F.broadcast(floor))
              .select(F.col(id_col),
                      F.coalesce("logp2", "logp_bo", "floor_logp")
                      .alias("lp")))
    # no final round: the decimal sum is exact, its double cast is
    # correctly-rounded, and dividing identical doubles by an integer is
    # IEEE-identical in every engine — whereas round(x, 9) on a double is
    # implementation-defined at half-way points (Spark goes through the
    # shortest-decimal BigDecimal, DuckDB scales and rints).
    return (scored.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 (F.sum(F.col("lp").cast("decimal(20,9)"))
                  .cast("double") / F.count(F.lit(1)))
                 .alias("avg_logprob")))


def cap_per_group(df: DataFrame, id_col: str, group_col: str,
                  n: int, n_salts: int = 32) -> DataFrame:
    """Per-domain/source document cap (RefinedWeb-style): keep at most
    ``n`` documents per group, chosen by a deterministic md5 hash order so
    the kept subset is engine- and layout-independent (a plain LIMIT or
    ``sample`` would not be).

    Two-phase for skew safety: a single ``row_number() OVER (PARTITION BY
    group)`` puts an entire mega-group (one web host = tens of millions of
    docs at 100 TB) on ONE task — window exchanges get no AQE skew
    splitting, so that task straggles or OOMs. Phase 1 pre-caps per
    (group, salt) — the salt is the first 8 hex digits of the SAME md5
    order key, so a mega-group spreads over ``n_salts`` tasks and each
    keeps its local top-``n``. Phase 2 runs the exact window over the
    survivors, now bounded at ``n_salts * n`` rows per group. The result
    is IDENTICAL to the single-phase form: every row in a group's true
    top-``n`` ranks <= n inside its salt bucket too, so phase 1 can never
    drop it. Cost: same full-data shuffle as before (keyed by
    (group, salt) instead of group) plus a second shuffle of <=
    n_salts*n rows per group.
    """
    order_key = F.md5(F.concat(F.lit("cap:"),
                               F.col(id_col).cast("string")))
    okc = F.col("__cap_ok")
    salt = F.pmod(F.conv(F.substring(okc, 1, 8), 16, 10).cast("long"),
                  F.lit(n_salts))
    pre_w = Window.partitionBy(group_col, "__cap_salt").orderBy(
        okc, F.col(id_col))
    w = Window.partitionBy(group_col).orderBy(okc, F.col(id_col))
    return (df.withColumn("__cap_ok", order_key)
            .withColumn("__cap_salt", salt)
            .withColumn("__cap_prern", F.row_number().over(pre_w))
            .filter(F.col("__cap_prern") <= n)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= n)
            .drop("__cap_ok", "__cap_salt", "__cap_prern"))


# PII patterns kept RE2-compatible (no backrefs/lookaround) so the same
# pattern string runs on Spark (java.util.regex) and DuckDB (RE2).
PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_PHONE = "\\+?[0-9]{1,2}-[0-9]{3}-[0-9]{3,4}-?[0-9]{0,4}"


def redact_pii(col) -> dict[str, "F.Column"]:
    """Regex PII scrub of a text column: emails then phone numbers are
    replaced with typed placeholder tokens, and per-kind match counts are
    emitted for audit. Pure JVM regexp expressions — no Python in the row
    path, whole-stage-codegen friendly, embarrassingly parallel.

    Returns dict with 'redacted', 'n_emails', 'n_phones' Columns.
    """
    c = F.col(col) if isinstance(col, str) else col
    n_emails = F.size(F.regexp_extract_all(c, F.lit(PII_EMAIL), F.lit(0)))
    no_email = F.regexp_replace(c, PII_EMAIL, "<EMAIL>")
    n_phones = F.size(F.regexp_extract_all(no_email, F.lit(PII_PHONE),
                                           F.lit(0)))
    red = F.regexp_replace(no_email, PII_PHONE, "<PHONE>")
    return {"redacted": red, "n_emails": n_emails, "n_phones": n_phones}


# the damping factor of pagerank_fixed
PAGERANK_DAMPING = 0.85


def pagerank_fixed(edges: DataFrame, src: str, dst: str, *,
                   iterations: int = 5) -> DataFrame:
    """Fixed-iteration PageRank (damping PAGERANK_DAMPING),
    engine-portably deterministic: per-edge
    contributions are rounded to 7 digits and summed as EXACT decimals
    (unordered SUM cannot drift), and each new rank is re-rounded — so a
    SQL oracle unrolling the same ``iterations`` steps matches
    bit-for-bit. Fixed iteration count (not convergence-tested) keeps the
    whole computation a single declarative plan per step; each step is
    one join + one map-side-combinable aggregation on the dst key, the
    textbook distributed PageRank shape.

    ``edges`` should include both directions for an undirected graph.
    Output: (node, rank) for every node with at least one outgoing edge.
    """
    # materialize the graph ONCE (lazy checkpoint): the edge table and the
    # node list are referenced every iteration, and without the lineage
    # cut each of the ~2 x iterations references would re-derive the
    # (possibly expensive) upstream edge pipeline; the per-iteration
    # checkpoint keeps the plan depth constant instead of growing with the
    # iteration count. The out-degree is joined into the edge table ONCE
    # up front — re-joining it inside every iteration (the naive
    # formulation) costs one extra shuffle per round for a value that
    # never changes.
    edges = edges.transform(materialize)
    nodes = (edges.select(F.col(src).alias("node")).distinct()
             .transform(materialize))
    outdeg = (edges.groupBy(F.col(src).alias("node"))
              .agg(F.count(F.lit(1)).alias("outdeg")))
    edges_deg = (edges.join(outdeg.withColumnRenamed("node", src), src)
                 .transform(materialize))
    pr = nodes.withColumn("rank", F.lit(1.0))
    base = F.lit(1.0 - PAGERANK_DAMPING)
    for _ in range(iterations):
        contrib = (edges_deg
                   .join(pr.withColumnRenamed("node", src), src)
                   .select(F.col(dst).alias("node"),
                           F.round(F.col("rank") / F.col("outdeg"), 7)
                           .cast("decimal(20,7)").alias("c")))
        summed = contrib.groupBy("node").agg(
            F.sum("c").cast("double").alias("s"))
        pr = (nodes.join(summed, "node", "left")
              .select("node",
                      F.round(base + PAGERANK_DAMPING
                              * F.coalesce(F.col("s"), F.lit(0.0)), 7)
                      .alias("rank"))
              .transform(materialize, "iter"))
    return pr
