"""Run one registry oracle on DuckDB and cache its canonical result.

    python3 perfbench/oracle.py <table dir> <sql> <out.json>

Runs in a child process of the benchmark, so DuckDB's memory never counts
toward the benchmark process's peak RSS. The output is ``[columns, rows]``
with rows canonicalised by ``tools/check_correctness.canon``; it is written
to a temporary name and renamed into place.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def write_oracle(qdir: str, sql: str, path: str) -> None:
    import duckdb
    from tools.check_correctness import canon

    with duckdb.connect() as con:
        for t in os.listdir(qdir):
            con.execute(f"CREATE VIEW {t.removesuffix('.parquet')} AS "
                        f"SELECT * FROM '{qdir}/{t}'")
        tbl = con.sql(sql).arrow()
    cols = tbl.column_names
    rows = list(zip(*(c.to_pylist() for c in tbl.columns)))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump([cols, [list(r) for r in canon(rows, cols)]], f)
    os.replace(tmp, path)


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    write_oracle(*sys.argv[1:4])
