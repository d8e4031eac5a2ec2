"""End-to-end ``ArangoCollectionSink`` drive WITHOUT a server: the real
``ParquetLoader.load`` path — encode, pickle the sink into the
Arrow-batched ``mapInArrow`` write, per-task lazy reconnect, batched
``import_bulk`` — against a file-backed stub ``arango`` module
(tests/fake_arango/arango.py) shipped to every python worker via
``addPyFile``.

Mirrors the reference's live-server sync matrix
(ParquetArangoLoaderTest.java:108-134): overwrite -> numDocs, append ->
numDocs*2, batch_size=3 -> every bulk call holds <= 3 documents. The unit
tests in test_loader.py cover the client-call protocol driver-side; this
file proves the distributed path (the code a first real user runs).
"""

import os
import sys

import pytest

FAKE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "fake_arango")


@pytest.fixture()
def arango_env(spark, tmp_path, monkeypatch):
    """Make the stub importable on the driver AND every executor worker."""
    # executors: addPyFile prepends to each worker's sys.path
    spark.sparkContext.addPyFile(os.path.join(FAKE_DIR, "arango.py"))
    # driver: plain path insertion (monkeypatch pops any cached import)
    monkeypatch.syspath_prepend(FAKE_DIR)
    monkeypatch.delitem(sys.modules, "arango", raising=False)
    yield str(tmp_path)
    sys.modules.pop("arango", None)


def _sink(root):
    from arangodb_java_parquet_spark.sources.collections import (
        ArangoCollectionSink)
    return ArangoCollectionSink("TRAFFIC_COL", url=f"stub://{root}")


def _bulk_sizes(root, name="TRAFFIC_COL", database="_system"):
    cdir = os.path.join(root, database, name)
    return sorted(int(p.split("-")[1]) for p in os.listdir(cdir)
                  if p.startswith("bulk-"))


def test_e2e_overwrite_counts(spark, sf_dir, arango_env):
    from arangodb_java_parquet_spark.sources import ParquetLoader
    sink = _sink(arango_env)
    n = ParquetLoader(spark).load(f"{sf_dir}/nation.parquet", sink,
                                  overwrite=True)
    assert n == 25
    assert sink.count() == 25


def test_e2e_append_then_overwrite(spark, sf_dir, arango_env):
    # reference: loads always append; expects numDocs*2
    # (ParquetArangoLoaderTest.java:117-125), and a later overwrite resets
    from arangodb_java_parquet_spark.sources import ParquetLoader
    loader = ParquetLoader(spark)
    sink = _sink(arango_env)
    loader.load(f"{sf_dir}/nation.parquet", sink, overwrite=True)
    loader.load(f"{sf_dir}/nation.parquet", sink)
    assert sink.count() == 50
    loader.load(f"{sf_dir}/nation.parquet", sink, overwrite=True)
    assert sink.count() == 25


def test_e2e_small_batches_bound_bulk_calls(spark, sf_dir, arango_env):
    # batchSize=3 (ParquetArangoLoaderTest.java:127-134): every import_bulk
    # request carries at most 3 documents, and they sum to the row count
    from arangodb_java_parquet_spark.sources import ParquetLoader
    sink = _sink(arango_env)
    ParquetLoader(spark).load(f"{sf_dir}/nation.parquet", sink,
                              overwrite=True, batch_size=3)
    sizes = _bulk_sizes(arango_env)
    assert sum(sizes) == 25
    assert max(sizes) <= 3
    assert sink.count() == 25


def test_e2e_content_matches_local_collection(spark, sf_dir, arango_env,
                                              tmp_path):
    # same documents through both sinks — the Arango path must not alter
    # encoding (content oracle the reference's count-only tests lack)
    import json

    from arangodb_java_parquet_spark.sources import (
        LocalCollection, ParquetLoader)
    loader = ParquetLoader(spark)
    sink = _sink(arango_env)
    local = LocalCollection(str(tmp_path / "local"), "docs")
    loader.load(f"{sf_dir}/nation.parquet", sink, overwrite=True)
    loader.load(f"{sf_dir}/nation.parquet", local, overwrite=True)
    stored = []
    cdir = os.path.join(arango_env, "_system", "TRAFFIC_COL")
    for p in sorted(os.listdir(cdir)):
        if p.startswith("bulk-"):
            with open(os.path.join(cdir, p), encoding="utf-8") as f:
                stored += [json.loads(line) for line in f]
    want = sorted(local.read_all(), key=lambda d: d["n_nationkey"])
    got = sorted(stored, key=lambda d: d["n_nationkey"])
    assert got == want
