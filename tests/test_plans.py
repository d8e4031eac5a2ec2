"""Physical-plan assertions — the 100 TB-readiness checks (SURVEY.md §4):
filters and projections must reach the parquet scan, dimension joins must
broadcast, top-k must not global-sort, python must stay out of JVM-only
pipelines. These guard against regressions that correctness tests can't see.
"""

from pyspark.sql import functions as F

from arangodb_java_parquet_spark.queries import QUERIES


from arangodb_java_parquet_spark.plans import (  # noqa: E402
    formatted_plan, inspect, is_python_free)


def plan(spark, sf_dir, name) -> str:
    return formatted_plan(QUERIES[name](spark, sf_dir))


def test_filter_and_projection_pushdown(spark, sf_dir):
    p = plan(spark, sf_dir, "filter_project_pushdown")
    assert "PushedFilters: [" in p
    assert "IsNotNull(l_shipdate)" in p or "GreaterThanOrEqual(l_shipdate" in p
    # projection pruned to the needed columns only
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "l_comment" not in read_schema
    assert "l_quantity" not in read_schema  # not referenced by this query


def test_q1_partial_aggregation(spark, sf_dir):
    p = plan(spark, sf_dir, "q1_pricing_summary")
    # partial (map-side) then final agg: two HashAggregate nodes
    assert p.count("HashAggregate") >= 2
    assert "PushedFilters" in p


def test_q3_broadcasts_dimension(spark, sf_dir):
    p = plan(spark, sf_dir, "q3_shipping_priority")
    assert "BroadcastHashJoin" in p


def test_q5_broadcasts_all_dims(spark, sf_dir):
    p = plan(spark, sf_dir, "q5_local_supplier_volume")
    # all four dimension joins broadcast; only lineitem⋈orders may shuffle
    assert p.count("BroadcastHashJoin") >= 4


def test_topk_no_global_sort(spark, sf_dir):
    p = plan(spark, sf_dir, "topk_orders")
    assert "TakeOrderedAndProject" in p


def test_semi_anti_join_shapes(spark, sf_dir):
    assert "LeftSemi" in plan(spark, sf_dir, "join_semi")
    assert "LeftAnti" in plan(spark, sf_dir, "join_anti")


def test_jvm_only_hot_paths(spark, sf_dir):
    """Oracle-checked relational/text/similarity queries must contain no
    python evaluation (BatchEvalPython / ArrowEvalPython / FlatMapsInPandas)
    — everything stays in codegen'd JVM operators."""
    for name in ("q1_pricing_summary", "text_quality_stats",
                 "dedup_minhash_lsh", "sim_topk_bruteforce",
                 "window_running_total", "join_asof_backward",
                 "quality_unigram_logprob", "pii_redaction",
                 "per_source_cap", "semdedup_prune",
                 "sim_pq_encode", "sim_topk_pq_adc"):
        assert is_python_free(QUERIES[name](spark, sf_dir)), name


def test_wholestage_codegen_coverage(spark, sf_dir):
    # the codegen view: AQE's formatted mode hides WholeStageCodegen spans
    assert "WholeStageCodegen" in inspect._explain(
        QUERIES["q1_pricing_summary"](spark, sf_dir), "codegen")


def test_broadcast_in_similarity(spark, sf_dir):
    p = plan(spark, sf_dir, "sim_topk_bruteforce")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path_factory):
    """Bucketing co-locates both join sides: the bucketed fact-fact join
    plans without an Exchange on either side — the pre-partitioning story
    for repeated large joins at 100 TB."""
    import contextlib
    import io
    # (warehouse dir is a static conf; tables land in ./spark-warehouse,
    # gitignored, and are dropped in the finally block)
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
     .mode("overwrite").saveAsTable("li_b"))
    (o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
     .mode("overwrite").saveAsTable("o_b"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = (spark.table("li_b")
             .join(spark.table("o_b"),
                   F.col("l_orderkey") == F.col("o_orderkey"))
             .groupBy("o_orderstatus").count())
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        p = buf.getvalue()
        join_section = p.split("HashAggregate")[0]
        assert "SortMergeJoin" in p or "ShuffledHashJoin" in p
        assert "Exchange" not in join_section
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS o_b")


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    """The benchmark n-gram set must broadcast (the train side never
    shuffles for the overlap join) and the train/bench filters must reach
    the scan."""
    p = plan(spark, sf_dir, "decontaminate_benchmark_overlap")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "PushedFilters: [" in p


def test_tfidf_broadcasts_df_table(spark, sf_dir):
    """The vocabulary-sized document-frequency table joins broadcast-side;
    no python evaluation anywhere."""
    p = plan(spark, sf_dir, "tfidf_top_terms")
    assert "BroadcastHashJoin" in p
    assert is_python_free(QUERIES["tfidf_top_terms"](spark, sf_dir))


def test_pack_sequences_partitions_by_shard(spark, sf_dir):
    """Packing must window per shard (no global single-partition sort)."""
    p = plan(spark, sf_dir, "pack_token_sequences")
    assert "partitionBy" not in p or "Window" in p
    # the window partitions by the shard column, so the exchange is
    # hashpartitioning on shard — never SinglePartition
    assert "SinglePartition" not in p


def test_runtime_bloom_filter_join(spark, sf_dir):
    """Runtime bloom-filter semi-join pruning: a selective dim filter must
    inject might_contain on the fact scan side of a shuffle join — the
    row-group-level read reducer for non-partition join keys at 100 TB.
    (Thresholds are lowered to demonstrate the mechanism at test scale.)"""
    saved = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled":
            spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled"),
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            spark.conf.get(
                "spark.sql.optimizer.runtime.bloomFilter"
                ".creationSideThreshold"),
        "spark.sql.autoBroadcastJoinThreshold":
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold":
            spark.conf.get(
                "spark.sql.optimizer.runtime.bloomFilter"
                ".applicationSideScanSizeThreshold"),
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "1000GB")
        # the fact side must look "large" for the filter to pay off; at
        # test scale that means lowering the floor to zero
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter"
            ".applicationSideScanSizeThreshold", "0")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet") \
            .select("l_orderkey", "l_quantity")
        o = (spark.read.parquet(f"{sf_dir}/orders.parquet")
             .filter(F.col("o_totalprice") > 400000)
             .select("o_orderkey"))
        p = formatted_plan(li.join(o, li["l_orderkey"] == o["o_orderkey"]))
        assert "might_contain" in p, p
        assert "SortMergeJoin" in p or "ShuffledHashJoin" in p
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_every_oracle_query_is_python_free(oracle_entry_facts):
    """Blanket gate: EVERY value-checked (oracle-bearing) batch query must
    plan without python evaluation — BatchEvalPython / ArrowEvalPython /
    FlatMapsInPandas never belong in a hash-compared path. Streaming
    drives are excluded (constructing them runs the stream; the shared
    ``oracle_entry_facts`` sweep holds the batch entries); the known
    pandas entries are rows-only and carry no oracle. One deliberate
    exception: the UDTF entry EXISTS to exercise the python UDTF surface,
    and its tokenization is exact integer/string work, so python
    evaluation cannot perturb its hashes."""
    skipped = set()
    # deliberate python surfaces whose work is exact (hash-safe):
    skipped.add("udtf_tokenize_lateral")     # python UDTF is the point
    skipped.add("multimodal_image_features")  # mapInPandas decode plumbing
    skipped.add("multimodal_image_decode")    # REAL BMP/PPM byte parsing is
    # the point; its pixel stats are exact-int sums (hash-safe)
    skipped.add("multimodal_audio_features")  # same, audio leg (real WAV)
    skipped.add("multimodal_video_decode")    # same, video leg (real AVI)
    skipped.add("multimodal_binary_meta")     # binary columns via pandas
    skipped.add("multimodal_frame_sample")
    skipped.add("multimodal_image_dedup")     # banding over the decode leg
    skipped.add("multimodal_audio_codec_profile")  # rollup over decode leg
    skipped.add("loader_roundtrip")           # mapInArrow sink write
    skipped.add("loader_roundtrip_nested")
    skipped.add("udaf_geomean_pandas")        # pandas UDAF is the point
    # Arrow-Gram consumers: the canonical exemption list lives WITH the
    # operator (operators/similarity.ARROW_GRAM_CONSUMERS) together with
    # its justification — exact scaled-int64 accumulation pinned
    # bit-identical to the JVM decimal path by the equality-pin tests
    # named there. Future additions must edit that constant (and cite a
    # pin), not this test.
    from arangodb_java_parquet_spark.operators.similarity import (
        ARROW_GRAM_CONSUMERS, ARROW_PQ_CONSUMERS)
    skipped.update(ARROW_GRAM_CONSUMERS)
    # Arrow PQ-encode consumers: same contract, pinned by
    # tests/test_similarity.py::test_pq_encode_arrow_matches_jvm (r16)
    skipped.update(ARROW_PQ_CONSUMERS)
    # join_cross is a deliberate tiny cross join (region × 5 segments)
    cartesian_ok = {"join_cross"}
    python = [n for n, f in oracle_entry_facts.items()
              if n not in skipped and not f.python_free]
    assert python == [], f"python evaluation in value-checked plans: {python}"
    # and the scale gate: a CartesianProduct (non-broadcast all-pairs
    # join) must never appear in a value-checked plan — 1-row scalar
    # crossJoins plan as BroadcastNestedLoopJoin, which is fine.
    cartesian = [n for n, f in oracle_entry_facts.items()
                 if n not in skipped | cartesian_ok and f.cartesian]
    assert cartesian == [], f"CartesianProduct in value-checked plans: " \
        f"{cartesian}"


def test_rows_only_entries_plan_invariants(spark, sf_dir):
    """The same registry-wide invariants for the entries WITHOUT an oracle
    (rows-only by design): no CartesianProduct anywhere, and python
    evaluation only in the four disclosed Arrow/pandas-by-design surfaces
    (their JVM twins are the value-checked counterparts). Closes the
    round-6 gap where the non-bench long tail had no plan audit."""
    from arangodb_java_parquet_spark.queries import ORACLES
    from arangodb_java_parquet_spark.plans.inspect import formatted_plan
    python_by_design = {"sim_pq_encode_arrow", "sim_topk_pq_adc_arrow",
                        "emb_gram_matrix_arrow", "emb_zscore_grouped_pandas"}
    for name in QUERIES:
        if name in ORACLES or name.startswith("stream"):
            continue
        df = QUERIES[name](spark, sf_dir)
        plan = formatted_plan(df)
        assert "CartesianProduct" not in plan, name
        if name in python_by_design:
            assert not is_python_free(df), (
                f"{name} is allowlisted as a python surface but plans "
                "python-free — tighten the allowlist")
        else:
            assert is_python_free(df), name


def test_salted_join_stays_on_shuffle_path(spark, sf_dir):
    """salted_join must plan a shuffled join on (key, salt) — if the build
    side were broadcast the salt would spread nothing."""
    p = plan(spark, sf_dir, "join_skew_salted")
    assert "ShuffledHashJoin" in p or "SortMergeJoin" in p
    assert "BroadcastHashJoin" not in p.split("HashAggregate")[0]


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Bucketed co-located join — THE 100 TB join strategy for repeated
    large-table equi-joins: both sides pre-bucketed on the join key means
    SortMergeJoin reads bucket-aligned splits and the plan contains NO
    Exchange at all (compare: an unbucketed join shuffles both sides every
    run)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    for df, name, key in ((o, "t_orders_b", "o_custkey"),
                          (c, "t_customer_b", "c_custkey")):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (df.write.mode("overwrite")
         .option("path", str(tmp_path / name))
         .bucketBy(8, key).sortBy(key).saveAsTable(name))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = (spark.table("t_orders_b")
             .join(spark.table("t_customer_b"),
                   F.col("o_custkey") == F.col("c_custkey"))
             .select("o_orderkey", "c_mktsegment"))
        p = formatted_plan(j)
        assert "SortMergeJoin" in p
        # both sides read bucket-aligned: the whole plan is shuffle-free
        assert "Exchange" not in p, p
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for name in ("t_orders_b", "t_customer_b"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_observe_metrics_on_write(spark, sf_dir):
    """df.observe() — zero-cost pipeline telemetry collected ON the write
    action itself (no second scan): row counts and exact-decimal sums
    arrive via the observation callback, the production pattern for
    ingest accounting (cf. sources/loader.py's accumulator counting)."""
    from pyspark.sql import Observation
    obs = Observation("ingest_metrics")
    df = (spark.read.parquet(f"{sf_dir}/orders.parquet")
          .observe(obs,
                   F.count(F.lit(1)).alias("n_rows"),
                   F.sum(F.col("o_totalprice").cast("decimal(30,8)"))
                   .cast("double").alias("sum_price")))
    df.write.format("noop").mode("overwrite").save()
    got = obs.get
    exact = spark.read.parquet(f"{sf_dir}/orders.parquet").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(30,8)")).cast("double")
        .alias("s")).collect()[0]
    assert got["n_rows"] == exact["n"]
    assert got["sum_price"] == exact["s"]


def test_plan_capture_is_per_thread(spark):
    """Threads capturing different plans at once each get their own: the
    capture returns the JVM's explain string and never redirects the
    process-wide stdout."""
    import sys
    import threading

    n, rounds = 8, 5
    dfs = [spark.range(3).selectExpr(f"id AS only_col_{i}") for i in range(n)]
    start = threading.Barrier(n)
    got = {}

    def capture(i):
        start.wait(timeout=60)
        got[i] = [(formatted_plan(dfs[i]),
                   inspect._explain(dfs[i], "codegen"))
                  for _ in range(rounds)]

    stdout = sys.stdout
    try:
        threads = [threading.Thread(target=capture, args=(i,))
                   for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.stdout = stdout
    assert not any(t.is_alive() for t in threads)
    for i in range(n):
        for plans in got[i]:
            for p in plans:
                names = {f"only_col_{j}" for j in range(n)
                         if f"only_col_{j}" in p}
                assert names == {f"only_col_{i}"}, (i, names)
