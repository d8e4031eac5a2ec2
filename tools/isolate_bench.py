"""Isolated per-entry bench: ONE fresh session, N noop-sink runs of one
entry at sf0.1 (the BENCH_ADJUDICATION protocol: run 1 pays codegen, the
warm best-of-N is the number comparable to the driver's warm one-session
bench). Optionally dumps the formatted physical plan for the judge's
plan-claim audit (plans/r15/<name>_{before,after}.txt).

Usage:
  python tools/isolate_bench.py NAME [NAME...] [--runs 3] [--sf DIR]
                                [--plan FILE]

One PROCESS per protocol-grade measurement: invoke this script once per
entry (a multi-entry invocation shares the session and is only for quick
relative reads — block-manager buildup pollutes late entries).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--plan", default=None,
                    help="write explain('formatted') of the first name here")
    args = ap.parse_args()

    from arangodb_java_parquet_spark.plans import formatted_plan
    from arangodb_java_parquet_spark.queries import QUERIES
    from arangodb_java_parquet_spark.session import get_spark
    spark = get_spark(app_name="isolate_bench")

    for name in args.names:
        fn = QUERIES[name]
        times = []
        for i in range(args.runs):
            spark.sparkContext.setJobDescription(f"{name} run{i + 1}")
            t0 = time.time()
            df = fn(spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            times.append(time.time() - t0)
        spark.sparkContext.setJobDescription(None)
        best = min(times[1:]) if len(times) > 1 else times[0]
        print(f"{name}: runs={[round(x, 2) for x in times]} "
              f"warm_best={best:.2f}")
        if args.plan and name == args.names[0]:
            os.makedirs(os.path.dirname(args.plan), exist_ok=True)
            with open(args.plan, "w") as fh:
                fh.write(formatted_plan(fn(spark, args.sf)) + "\n")
            print(f"plan -> {args.plan}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
