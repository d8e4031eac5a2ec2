"""Fit-once / apply-later round trips through the parquet model store:
the persisted artifact must drive the apply stage to results identical
to applying straight off the in-session fit."""

import json

import pytest

from arangodb_java_parquet_spark.operators.models import (
    load_model, save_model)


def test_irls_weights_roundtrip_apply_identical(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from arangodb_java_parquet_spark.queries.textmatch import (
        _irls_fit, _irls_mu_expr)
    pts, w = _irls_fit(spark, sf_dir)
    direct = pts.crossJoin(F.broadcast(w)).select(
        "y", _irls_mu_expr().alias("mu")).collect()

    save_model(w, str(tmp_path), "logreg_langid", "irls_weights")
    w2 = load_model(spark, str(tmp_path), "logreg_langid",
                    expect_kind="irls_weights")
    via_store = pts.crossJoin(F.broadcast(w2)).select(
        "y", _irls_mu_expr().alias("mu")).collect()
    assert sorted(map(tuple, direct)) == sorted(map(tuple, via_store))


def test_bpe_merges_roundtrip(spark, sf_dir, tmp_path):
    from arangodb_java_parquet_spark.queries.textmatch import _bpe_fit
    _state, learned = _bpe_fit(spark, sf_dir)
    df = spark.createDataFrame(
        learned, "step int, pair string, n_occurrences bigint")
    save_model(df, str(tmp_path), "bpe_merges", "bpe_merge_table")
    back = load_model(spark, str(tmp_path), "bpe_merges").collect()
    assert sorted((r.step, r.pair, r.n_occurrences) for r in back) \
        == sorted((r.step, r.pair, r.n_occurrences) for r in df.collect())


def test_centroids_roundtrip_assignment_identical(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from arangodb_java_parquet_spark.operators.similarity import assign_cells
    from arangodb_java_parquet_spark.queries.common import t
    e = t(spark, sf_dir, "embeddings")
    cents = (e.filter(F.col("vec_id") % 37 == 0)
             .select(F.col("vec_id").alias("cid"),
                     F.col("embedding").alias("cvec")))
    direct = assign_cells(e, cents, id_col="vec_id", vec_col="embedding") \
        .select("vec_id", "cell").collect()

    save_model(cents, str(tmp_path), "ivf_centroids", "centroid_table")
    cents2 = load_model(spark, str(tmp_path), "ivf_centroids",
                        expect_kind="centroid_table")
    via_store = assign_cells(e, cents2, id_col="vec_id",
                             vec_col="embedding") \
        .select("vec_id", "cell").collect()
    assert sorted(map(tuple, direct)) == sorted(map(tuple, via_store))


def test_manifest_validation(spark, tmp_path):
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    save_model(df, str(tmp_path), "m1", "kind_a")
    with pytest.raises(ValueError, match="kind"):
        load_model(spark, str(tmp_path), "m1", expect_kind="kind_b")
    with open(tmp_path / "m1" / "manifest.json") as f:
        manifest = json.load(f)
    assert manifest == {"name": "m1", "kind": "kind_a",
                        "columns": ["k", "v"], "partition_by": []}
