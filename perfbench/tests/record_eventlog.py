"""Regenerate ``data/eventlog-small.jsonl``, the recorded log the reducer
tests read.

    python3 perfbench/tests/record_eventlog.py

Runs a few tagged jobs on a ``local[2]`` session with the event log on,
then keeps the lines of the four event kinds the reducer reads plus one SQL
event (which the reducer must skip), with the bulky RDD details dropped.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
OUT = os.path.join(HERE, "data", "eventlog-small.jsonl")
KEEP = ("SparkListenerJobStart", "SparkListenerJobEnd",
        "SparkListenerStageSubmitted", "SparkListenerTaskEnd")


def record(tmp: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import SparkSession

    src = os.path.join(tmp, "t.parquet")
    pq.write_table(pa.table({"k": [i % 3 for i in range(30)],
                             "v": list(range(30))}), src)
    logs = os.path.join(tmp, "logs")
    os.makedirs(logs)
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + logs)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .getOrCreate())
    sc = spark.sparkContext
    sc.setJobGroup("w/op@0/construct", "construct")
    df = spark.read.parquet(src)
    df.collect()
    sc.setJobGroup("w/op@0/execute", "execute")
    df.groupBy("k").count().write.format("noop").mode("overwrite").save()
    sc.setLocalProperty("spark.jobGroup.id", None)
    spark.range(3).count()
    spark.stop()
    return glob.glob(os.path.join(logs, "*"))[0]


def main() -> int:
    tmp = tempfile.mkdtemp()
    try:
        path = record(tmp)
        kept, sql_kept = [], False
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind.endswith("SparkListenerSQLExecutionEnd") and not sql_kept:
                    kept.append(ev)
                    sql_kept = True
                elif kind in KEEP:
                    for s in ev.get("Stage Infos", []) + [ev.get("Stage Info") or {}]:
                        s.pop("RDD Info", None)
                        s.pop("Details", None)
                        s.pop("Accumulables", None)
                    (ev.get("Task Info") or {}).pop("Accumulables", None)
                    ev.pop("Task Executor Metrics", None)
                    if "Properties" in ev:  # keep only the tag, not local paths
                        ev["Properties"] = {
                            k: v for k, v in ev["Properties"].items()
                            if k == "spark.jobGroup.id"}
                    kept.append(ev)
        with open(OUT, "w", encoding="utf-8") as f:
            for ev in kept:
                line = json.dumps(ev, separators=(",", ":"))
                f.write(line.replace(ROOT + os.sep, "") + "\n")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
