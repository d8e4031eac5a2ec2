"""Semantic invariants for the round-5 scale-pipeline operators — beyond
the value oracles, assert the properties that make each operator USEFUL
(a correct-but-degenerate shuffle or plan would still hash-match)."""

import pytest

from arangodb_java_parquet_spark.queries.scale_ops import (
    _COMPACT_TARGET, _SHUF_SHARDS, compaction_bin_plan, data_shuffle_shards,
    forecast_ewma_daily, graph_link_prediction_jaccard, pack_length_buckets,
    zonemap_pruning_report)


def test_shuffle_shards_cover_and_positions(spark, sf_dir):
    rows = data_shuffle_shards(spark, sf_dir).collect()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.pos_in_shard)
    # every shard populated; positions contiguous 1..n (streamable files)
    assert set(by_shard) == set(range(_SHUF_SHARDS))
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # pseudorandom order: within a shard, doc_ids are not sorted
    docs0 = [r.doc_id for r in sorted(rows, key=lambda r: (r.shard,
                                                           r.pos_in_shard))
             if r.shard == 0]
    assert docs0 != sorted(docs0)


def test_compaction_bins_fill_to_target(spark, sf_dir):
    rows = sorted(compaction_bin_plan(spark, sf_dir).collect(),
                  key=lambda r: r.bin)
    # floor-rule packing: a bin can undershoot the target only by the
    # previous bin's overshoot, which is bounded by the largest single
    # file — every non-last bin lands within one max-file of target
    from arangodb_java_parquet_spark.queries.common import t
    from arangodb_java_parquet_spark.queries.scale_ops import _COMPACT_FILES
    from pyspark.sql import functions as F
    o = t(spark, sf_dir, "orders")
    max_file = (o.groupBy((F.col("o_orderkey") % _COMPACT_FILES)
                          .alias("file_id"))
                .agg(F.count(F.lit(1)).alias("n"))
                .agg(F.max("n")).collect()[0][0])
    for r in rows[:-1]:
        assert _COMPACT_TARGET - max_file <= r.total_rows \
            <= _COMPACT_TARGET + max_file
    # bins are dense 0..k and conserve rows
    assert [r.bin for r in rows] == list(range(len(rows)))
    assert sum(r.total_rows for r in rows) == o.count()


def test_zonemap_clustering_improves_pruning(spark, sf_dir):
    out = {r.layout: r for r in
           zonemap_pruning_report(spark, sf_dir).collect()}
    assert set(out) == {"natural", "clustered"}
    # the whole point of clustering: strictly better block pruning than
    # the natural layout for a selective range predicate
    assert out["clustered"].skip_ratio > out["natural"].skip_ratio
    assert out["natural"].n_blocks == out["clustered"].n_blocks


def test_link_prediction_scores_are_nonedges(spark, sf_dir):
    from arangodb_java_parquet_spark.operators.dedup import (
        char_shingles, lsh_candidate_pairs, minhash_signatures)
    from arangodb_java_parquet_spark.queries.common import t
    preds = graph_link_prediction_jaccard(spark, sf_dir).collect()
    if not preds:
        pytest.skip("no two-hop non-edges at this sf")
    d = t(spark, sf_dir, "documents")
    sh = char_shingles(d)
    cand = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(
        minhash_signatures(sh)).collect()}
    for r in preds:
        assert (r.doc_a, r.doc_b) not in cand  # predicted, not existing
        assert 0.0 < r.jaccard_score <= 1.0
        assert r.doc_a < r.doc_b


def test_ewma_between_min_and_max_daily(spark, sf_dir):
    from arangodb_java_parquet_spark.queries.common import dsum, t
    from pyspark.sql import functions as F
    row = forecast_ewma_daily(spark, sf_dir).collect()[0]
    o = t(spark, sf_dir, "orders")
    daily = (o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
             .agg(dsum("o_totalprice").alias("rev")))
    lo, hi = daily.agg(F.min("rev"), F.max("rev")).collect()[0]
    assert lo <= row.ewma_forecast <= hi  # convex combination of the days
    assert row.n_days == daily.count()


def test_length_buckets_account_for_every_doc(spark, sf_dir):
    from arangodb_java_parquet_spark.queries.common import t
    rows = pack_length_buckets(spark, sf_dir).collect()
    n_docs = t(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    for r in rows:
        assert 0 < r.fill_ratio <= 1.0
        assert r.real_tokens + r.pad_tokens == r.bucket_len * r.n_docs
