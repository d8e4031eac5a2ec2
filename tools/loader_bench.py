"""Loader throughput benchmark — the reference's own workload at volume.

The reference is a single-threaded row-at-a-time loader (scan -> JSON
encode -> batched insert); its repo publishes no numbers (BASELINE.md), so
this records OURS on the same task shape: load a full sf0.1 table through
the complete pipeline (distributed parquet scan -> JSON document encode ->
Arrow-batched mapInArrow insert) into the hermetic LocalCollection sink,
reporting wall seconds and docs/sec for both encode modes.

Usage: python tools/loader_bench.py [--sf DIR] [--table lineitem]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from arangodb_java_parquet_spark.session import get_spark
from arangodb_java_parquet_spark.sources import LocalCollection, ParquetLoader


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--table", default="lineitem")
    ap.add_argument("--batch-size", type=int, default=1000)
    args = ap.parse_args()
    spark = get_spark(app_name="loader-bench")
    path = f"{args.sf}/{args.table}.parquet"
    n_rows = spark.read.parquet(path).count()
    loader = ParquetLoader(spark)

    out = {"table": args.table, "sf": args.sf, "rows": n_rows,
           "batch_size": args.batch_size, "modes": {}}
    for mode in ("spark", "reference"):
        root = tempfile.mkdtemp(prefix="ajps_ldbench_")
        col = LocalCollection(root, "bench")
        # warm run (JIT/codegen for both encoders, python workers for the
        # write stage both modes share)
        loader.load(path, col, overwrite=True,
                    batch_size=args.batch_size, mode=mode)
        t0 = time.time()
        n = loader.load(path, col, overwrite=True,
                        batch_size=args.batch_size, mode=mode)
        wall = time.time() - t0
        assert n == n_rows and col.count() == n_rows
        out["modes"][mode] = {"wall_sec": round(wall, 2),
                              "docs_per_sec": round(n_rows / wall)}
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
