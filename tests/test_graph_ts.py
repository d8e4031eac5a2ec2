"""Pins for the round-12c graph/time-series wave: HITS, local clustering
coefficient, spectral entropy, Hurst R/S. Each statistic is recomputed in
plain python (mirroring the engine's exact integer / fenced-decimal
formulation) at smoke scale and compared for exact equality."""

import math
from collections import defaultdict
from decimal import Decimal

from pyspark.sql import functions as F

from arangodb_java_parquet_spark.queries.common import QUERIES, t


def test_hits_scores_match_python(spark, sf_dir):
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = {(r["o_custkey"], r["l_suppkey"])
             for r in o.join(li, o["o_orderkey"] == li["l_orderkey"])
             .collect()}
    by_c, by_s = defaultdict(list), defaultdict(list)
    for c, s in edges:
        by_c[c].append(s)
        by_s[s].append(c)
    a = {s: 1.0 for s in by_s}
    h = {}
    for _ in range(3):
        hr = {c: float(sum(Decimal(repr(round(a[s], 9))) for s in ss))
              for c, ss in by_c.items()}
        hm = max(hr.values())
        h = {c: round(v / hm, 9) for c, v in hr.items()}
        ar = {s: float(sum(Decimal(repr(round(h[c], 9))) for c in cc))
              for s, cc in by_s.items()}
        am = max(ar.values())
        a = {s: round(v / am, 9) for s, v in ar.items()}
    rows = QUERIES["graph_hits_scores"](spark, sf_dir).collect()
    hubs = {r["node"]: r["score"] for r in rows if r["role"] == "hub"}
    auths = {r["node"]: r["score"] for r in rows if r["role"] == "authority"}
    assert hubs == h
    assert auths == a
    assert max(hubs.values()) == 1.0 and max(auths.values()) == 1.0


def test_local_clustering_matches_edge_list(spark, sf_dir):
    from arangodb_java_parquet_spark.operators.dedup import (
        char_shingles, lsh_candidate_pairs_capped, minhash_signatures)
    d = t(spark, sf_dir, "documents")
    sh = char_shingles(d)
    e = [(r["doc_a"], r["doc_b"]) for r in lsh_candidate_pairs_capped(
        minhash_signatures(sh),
        max_bucket=32).select("doc_a", "doc_b").collect()]
    adj = defaultdict(set)
    for x, y in e:
        adj[x].add(y)
        adj[y].add(x)
    rows = QUERIES["graph_local_clustering"](spark, sf_dir).collect()
    got = {r["node"]: r for r in rows}
    expect_nodes = {n for n in adj if len(adj[n]) >= 2}
    assert set(got) == expect_nodes
    for n in expect_nodes:
        deg = len(adj[n])
        tri = sum(1 for u in adj[n] for v in adj[n]
                  if u < v and v in adj[u])
        r = got[n]
        assert r["degree"] == deg and r["triangles"] == tri
        assert r["lcc"] == 2.0 * tri / (float(deg) * (deg - 1))
        assert 0.0 <= r["lcc"] <= 1.0


def _daily_cents(spark, sf_dir):
    o = t(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    per_day = defaultdict(int)
    for r in o.collect():
        per_day[str(r["o_orderdate"])[:10]] += int(
            round(r["o_totalprice"] * 100))
    return [per_day[d] for d in sorted(per_day)]


def test_spectral_entropy_bounds_and_share(spark, sf_dir):
    row = QUERIES["timeseries_spectral_entropy"](spark, sf_dir).collect()[0]
    assert row["n_freqs"] == 16
    assert 0.0 < row["spectral_entropy"] <= math.log(16) + 1e-9
    assert 0.0 < row["entropy_norm"] <= 1.0
    assert 1.0 / 16 - 1e-9 <= row["dominant_share"] <= 1.0
    # a near-flat synthetic revenue spectrum should be high-entropy
    assert row["entropy_norm"] > 0.5


def test_hurst_rs_matches_python(spark, sf_dir):
    cents = _daily_cents(spark, sf_dir)
    vs = [c // 100 for c in cents]
    ys, means, total_blocks = {}, {}, 0
    for m in (16, 32, 64, 128):
        rss = []
        for b in range(len(vs) // m):
            blk = vs[b * m:(b + 1) * m]
            tot = sum(blk)
            tot2 = sum(v * v for v in blk)
            s = 0
            devs = []
            for i, v in enumerate(blk, start=1):
                s += v
                devs.append(m * s - i * tot)
            r = (max(devs) - min(devs)) / float(m)
            var = tot2 / float(m) - (tot / float(m)) * (tot / float(m))
            sd = math.sqrt(var)
            if sd != 0:
                rss.append(round(r / sd, 9))
        total_blocks += len(rss)
        mean = float(sum(Decimal(repr(x)) for x in rss)) / len(rss)
        means[m] = mean
        ys[m] = round(math.log(mean), 9)
    hurst = ((-1.5 * ys[16] - 0.5 * ys[32] + 0.5 * ys[64] + 1.5 * ys[128])
             / (5.0 * round(math.log(2.0), 9)))
    row = QUERIES["timeseries_hurst_rs"](spark, sf_dir).collect()[0]
    assert row["n_blocks"] == total_blocks
    for m in (16, 32, 64, 128):
        assert row[f"mean_rs_{m}"] == means[m]
    assert row["hurst"] == hurst
    # R/S must grow with block size; H must be a plausible exponent
    assert means[128] > means[16]
    assert 0.0 < row["hurst"] < 1.0
