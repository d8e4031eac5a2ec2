"""Seeded input generator: pyarrow + numpy only, one process, no Spark.

Two input sets, both cached on disk under ``<cache>/gen-v<GEN_VERSION>/``:

* ``bulk_file(cache, seed)`` — one lineitem-shaped Parquet file (11 flat
  columns, ``BULK_ROWS`` rows, a single row group) drawn from ``seed``.
* ``query_dir(cache)`` — the ten registry tables (region … embeddings) at
  the 0.01 scale shape, drawn from a fixed seed so query inputs never move
  between runs; the run's seed only permutes the entry order.

The same arguments always give byte-identical files. A file is written to a
temporary name and renamed into place, so a cache entry is either whole or
absent.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil
import subprocess
import sys
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 2
BULK_ROWS = 300_000
QUERY_SEED = 42

# Row counts of the 0.01 scale shape (the registry's correctness scale).
QUERY_ROWS = {"region": 5, "nation": 25, "customer": 1_500, "supplier": 100,
              "part": 2_000, "orders": 15_000, "lineitem": 60_000,
              "events": 10_000, "documents": 500, "embeddings": 500}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_WORDS = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()
_EPOCH = dt.datetime(1970, 1, 1)


def _days(d: dt.datetime) -> int:
    return (d - _EPOCH).days


def _dates(rng, lo: dt.datetime, hi: dt.datetime, n: int) -> pa.Array:
    days = rng.integers(_days(lo), _days(hi) + 1, n)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def lineitem(rng, n: int, n_orders: int, n_parts: int, n_supp: int) -> pa.Table:
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_parts, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _dates(rng, dt.datetime(1995, 1, 2),
                             dt.datetime(2001, 11, 4), n),
    })


def query_tables(seed: int = QUERY_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    r = QUERY_ROWS
    n_c, n_s, n_p, n_o = r["customer"], r["supplier"], r["part"], r["orders"]
    nation_keys = np.arange(25, dtype=np.int32)
    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": _REGIONS}),
        "nation": pa.table({"n_nationkey": nation_keys,
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": nation_keys % 5}),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_c), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_c)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_s), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_s)}),
        "part": pa.table({
            "p_partkey": pa.array(range(n_p), pa.int64()),
            "p_name": [f"{_P_ADJ[a]} {_P_NOUN[b]}" for a, b in
                       rng.integers(0, 8, (n_p, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
            "p_type": _pick(rng, _P_TYPES, n_p),
            "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
            "p_retailprice": 900.0 + (np.arange(n_p) % 1000) / 10.0}),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n_o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_o),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_o),
            "o_orderdate": _dates(rng, dt.datetime(1995, 1, 1),
                                  dt.datetime(2001, 8, 1), n_o),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_o)}),
        "lineitem": lineitem(rng, r["lineitem"], n_o, n_p, n_s),
    }
    n_e = r["events"]
    start_us = _days(dt.datetime(2024, 1, 1)) * 86_400_000_000
    steps = rng.integers(1, 2 * 30 * 86_400_000_000 // n_e, n_e)
    tables["events"] = pa.table({
        "event_id": pa.array(range(n_e), pa.int64()),
        "ts": pa.array(start_us + np.cumsum(steps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_e), pa.int64()),
        "event_type": _pick(rng, _EVENT_TYPES, n_e),
        "value": np.round(rng.exponential(50.0, n_e), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]})
    n_d = r["documents"]
    texts = [" ".join(np.asarray(_WORDS)[rng.integers(0, len(_WORDS), k)])
             for k in rng.integers(10, 100, n_d)]
    for i in rng.choice(n_d, n_d // 20, replace=False):
        # near-duplicates: a copy of another document with one token changed
        toks = texts[int(rng.integers(0, n_d))].split()
        toks[int(rng.integers(0, len(toks)))] = "dup"
        texts[i] = " ".join(toks)
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(n_d), pa.int64()),
        "text": texts,
        "lang": _pick(rng, _LANGS, n_d),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    n_v = r["embeddings"]
    labels = rng.integers(0, 10, n_v)
    centers = rng.normal(0.0, 0.15, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.0, (n_v, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_v), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return tables


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy",
                   row_group_size=max(1, table.num_rows))


def bulk_path(cache: str, seed: int) -> str:
    return os.path.join(cache, f"gen-v{GEN_VERSION}", f"bulk-s{seed}.parquet")


def query_path(cache: str) -> str:
    return os.path.join(cache, f"gen-v{GEN_VERSION}", "query")


def write_bulk(cache: str, seed: int) -> str:
    path = bulk_path(cache, seed)
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.{uuid.uuid4().hex}.tmp"
        _write(lineitem(np.random.default_rng(seed), BULK_ROWS,
                        150_000, 20_000, 1_000), tmp)
        os.replace(tmp, path)
    return path


def write_query(cache: str) -> str:
    d = query_path(cache)
    if not os.path.isdir(d):
        tmp = f"{d}.{uuid.uuid4().hex}.tmp"
        os.makedirs(tmp)
        for name, table in query_tables().items():
            _write(table, os.path.join(tmp, f"{name}.parquet"))
        try:
            os.rename(tmp, d)
        except OSError:  # a concurrent writer won; its copy is identical
            shutil.rmtree(tmp, ignore_errors=True)
    return d


def _generated(path: str, *args: str) -> str:
    """``path``, generated by a child process on a cache miss, so the
    caller's own memory never holds the tables."""
    if not os.path.exists(path):
        subprocess.run([sys.executable, os.path.abspath(__file__), *args],
                       check=True)
    return path


def bulk_file(cache: str, seed: int) -> str:
    """Path of the seed's bulk-load file."""
    return _generated(bulk_path(cache, seed), "bulk", cache, str(seed))


def query_dir(cache: str) -> str:
    """Directory of the ten query tables."""
    return _generated(query_path(cache), "query", cache)


def fingerprint(paths: list[str]) -> dict[str, list]:
    """``{basename: [bytes, sha256 prefix]}`` — printed with every run so a
    changed input is visible beside the numbers it moved."""
    out = {}
    for p in sorted(paths):
        with open(p, "rb") as f:
            out[os.path.basename(p)] = [os.path.getsize(p),
                                        hashlib.sha256(f.read()).hexdigest()[:12]]
    return out


if __name__ == "__main__":
    if sys.argv[1] == "bulk":
        write_bulk(sys.argv[2], int(sys.argv[3]))
    else:
        write_query(sys.argv[2])
