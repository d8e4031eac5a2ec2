"""Portable-sketch properties: mergeability (the point of a sketch) and
estimate quality. The register/estimate VALUES are oracle-checked by the
harness; these tests pin the algebraic properties no single-run hash can."""

from pyspark.sql import functions as F

from arangodb_java_parquet_spark.operators.sketches import (
    HLL_M, cms_build, cms_probe, hll_estimate, hll_registers)
from arangodb_java_parquet_spark.queries.common import t


def test_hll_merge_equals_single_pass(spark, sf_dir):
    """Registers built on two disjoint halves and merged with MAX must be
    byte-identical to single-pass registers — the property that lets
    per-shard / per-day sketches roll up without rescanning."""
    o = t(spark, sf_dir, "orders")
    single = hll_registers(o, "o_custkey", ["o_orderpriority"])
    a = hll_registers(o.filter(F.col("o_orderkey") % 2 == 0),
                      "o_custkey", ["o_orderpriority"])
    b = hll_registers(o.filter(F.col("o_orderkey") % 2 == 1),
                      "o_custkey", ["o_orderpriority"])
    merged = (a.unionAll(b).groupBy("o_orderpriority", "bucket")
              .agg(F.max("r").alias("r")))
    key = lambda r: (r["o_orderpriority"], r["bucket"], r["r"])  # noqa: E731
    assert sorted(map(key, merged.collect())) == \
        sorted(map(key, single.collect()))


def test_hll_estimate_within_error_band(spark, sf_dir):
    """Estimate vs exact distinct per group: within 3x the theoretical
    1.04/sqrt(m) relative standard error."""
    o = t(spark, sf_dir, "orders")
    est = {r["o_orderpriority"]: r["est_distinct"] for r in
           hll_estimate(hll_registers(o, "o_custkey", ["o_orderpriority"]),
                        ["o_orderpriority"]).collect()}
    exact = {r["o_orderpriority"]: r["n"] for r in
             o.groupBy("o_orderpriority")
             .agg(F.countDistinct("o_custkey").alias("n")).collect()}
    band = 3 * 1.04 / (HLL_M ** 0.5)
    for g, n in exact.items():
        rel = abs(est[g] - n) / n
        assert rel <= band, (g, est[g], n, rel)


def test_cms_merge_and_never_underestimates(spark, sf_dir):
    """Counter tables from disjoint halves summed == single-pass sketch;
    point estimates are >= the true count for EVERY distinct token."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    single = cms_build(toks, "tok")
    a = cms_build(toks.filter(F.col("doc_id") % 2 == 0), "tok")
    b = cms_build(toks.filter(F.col("doc_id") % 2 == 1), "tok")
    merged = (a.unionAll(b).groupBy("r", "c")
              .agg(F.sum("cnt").alias("cnt")))
    key = lambda r: (r["r"], r["c"], r["cnt"])  # noqa: E731
    assert sorted(map(key, merged.collect())) == \
        sorted(map(key, single.collect()))

    truth = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("true_cnt"))
    est = cms_probe(truth.select("tok"), "tok", single)
    bad = (truth.join(est, "tok")
           .filter(F.col("cms_est") < F.col("true_cnt")).count())
    assert bad == 0


def test_quantile_sketch_merge_and_accuracy(spark, sf_dir):
    """With bounds fixed, per-shard histograms summed == single-pass
    histogram, and the interpolated estimates land within one bin width
    of the exact percentiles."""
    from arangodb_java_parquet_spark.operators.sketches import (
        QSK_BINS, quantile_sketch_estimate, quantile_sketch_hist)
    o = t(spark, sf_dir, "orders")
    cents = "CAST(round(o_totalprice * 100) AS BIGINT)"
    lo, hi = o.selectExpr(f"MIN({cents})", f"MAX({cents})").first()

    single = quantile_sketch_hist(o, cents, lo, hi)
    a = quantile_sketch_hist(o.filter(F.col("o_orderkey") % 2 == 0),
                             cents, lo, hi)
    b = quantile_sketch_hist(o.filter(F.col("o_orderkey") % 2 == 1),
                             cents, lo, hi)
    merged = (a.unionAll(b).groupBy("bin")
              .agg(F.sum("cnt").alias("cnt")))
    key = lambda r: (r["bin"], r["cnt"])  # noqa: E731
    assert sorted(map(key, merged.collect())) == \
        sorted(map(key, single.collect()))

    qs = [0.25, 0.5, 0.9]
    est = {r["q"]: r["est_value"] for r in
           quantile_sketch_estimate(single, lo, hi, qs).collect()}
    exact = o.selectExpr(
        *[f"percentile(o_totalprice, {q}) AS p{i}"
          for i, q in enumerate(qs)]).first()
    bin_width = (hi - lo + 1) / QSK_BINS / 100.0
    for i, q in enumerate(qs):
        assert abs(est[q] - exact[i]) <= bin_width, (q, est[q], exact[i])


def test_gk_summary_rank_error_bound(spark):
    """The deterministic GK summary's estimate must land within the
    guaranteed rank error (GK_SHARDS * GK_S) of the target rank — the
    bound the docstring claims — on groups large enough (~6.7k values,
    ~1.7k per shard) that the summary really compresses and the bound is
    a small fraction of the group."""
    from arangodb_java_parquet_spark.operators.sketches import (
        GK_S, GK_SHARDS, gk_quantile_summary)
    o = spark.range(20000).selectExpr(
        "id AS k", "id % 3 AS p",
        "CAST((id * 7919) % 10007 AS DOUBLE) / 3 AS v")
    est = gk_quantile_summary(o, "v", "k", "p")
    rows = est.collect()
    assert len(rows) == 9, "summary produced no quantile rows"
    exact = {p: sorted(v for (v,) in
                       o.filter(F.col("p") == p).select("v").collect())
             for p in range(3)}
    bound = GK_SHARDS * GK_S
    for r in rows:
        vals = exact[r["p"]]
        n = len(vals)
        assert r["n_total"] == n
        assert r["n_summary"] < n // 20
        from fractions import Fraction
        q = Fraction(r["q"]).limit_denominator(100)  # exact num/den back
        target = -((-n * q.numerator) // q.denominator)  # ceil(q*n) exactly
        import bisect
        lo = bisect.bisect_left(vals, r["est_value"]) + 1
        hi = bisect.bisect_right(vals, r["est_value"])
        # rank interval of the returned value must overlap
        # [target - bound, target + bound]
        assert lo - bound <= target <= hi + bound, \
            (r["p"], r["q"], lo, hi, target)


def test_quantile_sketch_lazy_bounds_matches_literals(spark, sf_dir):
    """The r16 lazy-bounds path (1-row broadcast scalar instead of an
    eager min/max .first(); VERDICT r15 #6) must be BIT-IDENTICAL to the
    int-literal path — exact bigint columns vs exact bigint literals
    feed the same integer bin arithmetic and the same left-to-right
    double interpolation."""
    from arangodb_java_parquet_spark.operators.sketches import (
        quantile_sketch_bounds, quantile_sketch_estimate,
        quantile_sketch_hist)
    o = t(spark, sf_dir, "orders")
    cents = "CAST(round(o_totalprice * 100) AS BIGINT)"
    lo, hi = o.selectExpr(f"MIN({cents})", f"MAX({cents})").first()
    qs = [0.25, 0.5, 0.9, 0.99]

    lit_est = quantile_sketch_estimate(
        quantile_sketch_hist(o, cents, lo, hi), lo, hi, qs)
    bounds = quantile_sketch_bounds(o, cents)
    lazy_est = quantile_sketch_estimate(
        quantile_sketch_hist(o, cents, bounds=bounds),
        quantiles=qs, bounds=bounds)
    key = lambda r: (r["q"], repr(r["est_value"]))  # noqa: E731
    assert sorted(map(key, lazy_est.collect())) == \
        sorted(map(key, lit_est.collect()))
