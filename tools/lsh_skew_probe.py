"""LSH band-join skew probe: measure candidate-pair enumeration on a
DUPLICATE-HEAVY corpus (replica-expanded documents — every replica shares
its original's text, so shared buckets grow into K-cliques) at 1x/4x/10x
volume, uncapped vs bucket-capped, writing SKEW_PROBE.md.

This is the adversarial case the r5 scale probe surfaced (1.35 wall-time
exponent on the replica corpus): the uncapped band self-join does O(k²)
work in a k-member bucket, while lsh_candidate_pairs_capped bounds it to
all-pairs within the cap plus O(k) star edges. The probe's pass bar
(VERDICT r5 #5): capped band-join time at x10 within ~2x of x4.

Usage: python tools/lsh_skew_probe.py [--factors 1,4,10] [--base SF_DIR]
"""

from __future__ import annotations

import argparse
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from arangodb_java_parquet_spark.session import get_spark


def replica_docs(spark, base, factor, out):
    d = spark.read.parquet(os.path.join(base, "documents.parquet"))
    n = d.agg(F.max("doc_id")).collect()[0][0] + 1
    reps = spark.range(factor).select(F.col("id").alias("__rep"))
    (d.crossJoin(reps)
     .select((F.col("doc_id") + F.col("__rep") * n).alias("doc_id"),
             "text", "lang", "source", "n_chars")
     .write.mode("overwrite").parquet(out))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factors", default="1,4,10")
    ap.add_argument("--base", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()
    factors = [int(f) for f in args.factors.split(",")]

    from arangodb_java_parquet_spark.operators.dedup import (
        char_shingles, lsh_candidate_pairs, lsh_candidate_pairs_capped,
        minhash_signatures)

    from arangodb_java_parquet_spark.operators.dedup import (
        exact_substring_removal)

    spark = get_spark(app_name="lsh_skew_probe")
    work = "/tmp/ajps_skew_probe"
    results: dict[str, dict[int, float]] = {
        "uncapped": {}, "capped": {}, "exactsubstr_removal": {},
        "triangles_uncapped": {}, "triangles_capped": {}}
    counts: dict[str, dict[int, int]] = {
        "uncapped": {}, "capped": {}, "exactsubstr_removal": {},
        "triangles_uncapped": {}, "triangles_capped": {}}
    try:
        for f in factors:
            path = os.path.join(work, f"docs_x{f}")
            replica_docs(spark, args.base, f, path)
            d = spark.read.parquet(path)
            sigs = minhash_signatures(char_shingles(d))
            for variant, fn in (
                    ("uncapped", lambda s: lsh_candidate_pairs(s)),
                    ("capped", lambda s: lsh_candidate_pairs_capped(
                        s, max_bucket=32))):
                best, cnt = None, None
                for _ in range(2):
                    t0 = time.time()
                    cnt = fn(sigs).count()
                    el = time.time() - t0
                    best = el if best is None else min(best, el)
                results[variant][f] = best
                counts[variant][f] = cnt
                print(f"x{f} {variant}: {best:.2f}s, {cnt} pairs",
                      flush=True)
            # ExactSubstr removal on the SAME duplicate-heavy corpus:
            # every window fingerprint occurs `factor` times, the
            # adversarial case for the per-fingerprint canonical pass
            # (combinable min-aggregations, never a per-fingerprint
            # window — this probe is what pins that claim)
            best, cnt = None, None
            for _ in range(2):
                t0 = time.time()
                cnt = exact_substring_removal(d, k=20).count()
                el = time.time() - t0
                best = el if best is None else min(best, el)
            results["exactsubstr_removal"][f] = best
            counts["exactsubstr_removal"][f] = cnt
            print(f"x{f} exactsubstr_removal: {best:.2f}s, {cnt} docs",
                  flush=True)
            # Triangle enumeration on the duplicate-heavy graph: every
            # original doc's replicas form an f-clique, so the triangle
            # POPULATION grows ~f^2 per row under the uncapped pairs —
            # this probe measures how much the bucket cap (same
            # connected components, star edges for the overflow)
            # recovers for clique-dense graph diagnostics
            # (graph_clustering_coefficient / graph_modularity_lpa).
            for variant, fn in (
                    ("triangles_uncapped",
                     lambda s2: lsh_candidate_pairs(s2)),
                    ("triangles_capped",
                     lambda s2: lsh_candidate_pairs_capped(
                         s2, max_bucket=32))):
                e = (fn(sigs).select("doc_a", "doc_b")
                     .localCheckpoint(eager=False))
                ab, bc, ac = e.alias("ab"), e.alias("bc"), e.alias("ac")
                tri = (ab.join(bc, F.col("bc.doc_a") == F.col("ab.doc_b"))
                       .join(ac, (F.col("ac.doc_a") == F.col("ab.doc_a"))
                             & (F.col("ac.doc_b") == F.col("bc.doc_b"))))
                best, cnt = None, None
                for _ in range(2):
                    t0 = time.time()
                    cnt = tri.count()
                    el = time.time() - t0
                    best = el if best is None else min(best, el)
                results[variant][f] = best
                counts[variant][f] = cnt
                print(f"x{f} {variant}: {best:.2f}s, {cnt} triangles",
                      flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [
        "# LSH band-join skew probe",
        "",
        f"Replica-expanded `documents` (duplicate-heavy adversarial "
        f"corpus) from `{args.base}`; wall seconds best-of-2 for full "
        "candidate-pair enumeration (count action). `capped` = "
        "lsh_candidate_pairs_capped(max_bucket=32): all-pairs within the "
        "cap + star edges to the bucket min — same connected components, "
        "O(k) per giant bucket.",
        "",
        "| variant | " + " | ".join(f"x{f}" for f in factors) +
        " | pairs@x{} | t(x{})/t(x{}) | exponent |".format(
            factors[-1], factors[-1], factors[-2]),
        "|---|" + "---|" * (len(factors) + 3),
    ]
    for variant in ("uncapped", "capped", "exactsubstr_removal",
                    "triangles_uncapped", "triangles_capped"):
        ts = results[variant]
        ratio = ts[factors[-1]] / ts[factors[-2]]
        expo = (math.log(ts[factors[-1]] / ts[factors[0]])
                / math.log(factors[-1] / factors[0]))
        lines.append(
            f"| {variant} | "
            + " | ".join(f"{ts[f]:.2f}s" for f in factors)
            + f" | {counts[variant][factors[-1]]}"
            + f" | {ratio:.2f}x | {expo:.2f} |")
    lines += [
        "",
        "Pass bar (VERDICT r5 #5): capped x10 within ~2x of x4 — "
        f"measured {results['capped'][factors[-1]] / results['capped'][factors[-2]]:.2f}x.",
        "",
        "Cluster-connectivity equality between capped and uncapped "
        "graphs is pinned by tests/test_curation.py::"
        "test_capped_lsh_preserves_cluster_connectivity; the capped "
        "variant is oracle-checked as dedup_lsh_capped_pairs.",
        "",
        "exactsubstr_removal (count of affected docs) runs "
        "exact_substring_removal(k=20) on the same duplicate-heavy "
        "corpus: every window fingerprint occurs `factor` times, the "
        "adversarial case for the canonical-occurrence pass — which is "
        "combinable min-aggregations plus a hash join, never a "
        "per-fingerprint row_number window (a boilerplate fingerprint "
        "would pile its whole occurrence list into one window "
        "partition). Oracle-checked as dedup_exactsubstr_removal.",
        "",
        "triangles_* enumerate a<b<c triangles (the "
        "graph_clustering_coefficient / graph_triangle_count join) on "
        "the duplicate-heavy graph: replicas form f-cliques, so the "
        "uncapped triangle POPULATION itself grows ~f^2 per row — "
        "enumeration cost is inherent to the data, which is why the "
        "mixed-corpus SCALE_PROBE row shows 1.49. The capped pairs "
        "(same connected components) bound bucket cliques. As of r12 "
        "the capped graph IS THE DEFAULT input for the pre-dedup graph "
        "diagnostics named in the r11 adjudication — "
        "graph_triangle_count and graph_adamic_adar consume "
        "lsh_candidate_pairs_capped(max_bucket=32), oracles mirrored "
        "via capped_pairs_cte_sql — so triangles_capped is the default "
        "path's row; the uncapped graph stays available as the opt-in "
        "operator (lsh_candidate_pairs) for post-dedup corpora.",
    ]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "SKEW_PROBE.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print("wrote SKEW_PROBE.md")
    return 0


if __name__ == "__main__":
    sys.exit(main())
