"""Loader parity tests — mirror the reference's test matrix
(ParquetArangoLoaderTest.java:108-162: overwrite / append / small batch,
row-count assertions) and go beyond it with content assertions vs a
pyarrow oracle (SURVEY.md §5 engine test plan)."""

import json

import pyarrow.parquet as pq
import pytest

from arangodb_java_parquet_spark.sources import LocalCollection, ParquetLoader


@pytest.fixture()
def collection(tmp_path):
    return LocalCollection(str(tmp_path), "docs")


def nation_path(sf_dir):
    return f"{sf_dir}/nation.parquet"


def test_load_overwrite_counts(spark, sf_dir, collection):
    loader = ParquetLoader(spark)
    n = loader.load(nation_path(sf_dir), collection, overwrite=True)
    assert n == 25
    assert collection.count() == 25


def test_load_append_semantics(spark, sf_dir, collection):
    # reference: loads always append; expects numDocs*2
    # (ParquetArangoLoaderTest.java:117-125)
    loader = ParquetLoader(spark)
    loader.load(nation_path(sf_dir), collection, overwrite=True)
    loader.load(nation_path(sf_dir), collection)
    assert collection.count() == 50


def test_load_overwrite_resets(spark, sf_dir, collection):
    loader = ParquetLoader(spark)
    loader.load(nation_path(sf_dir), collection, overwrite=True)
    loader.load(nation_path(sf_dir), collection, overwrite=True)
    assert collection.count() == 25


def test_small_batch_sizes(spark, sf_dir, collection):
    # batchSize=3 forces many partial/full batch boundaries
    # (ParquetArangoLoaderTest.java:127-134)
    loader = ParquetLoader(spark)
    loader.load(nation_path(sf_dir), collection, overwrite=True, batch_size=3)
    assert collection.count() == 25


def test_batch_size_validation(spark, sf_dir, collection):
    # ParquetArangoLoader.java:123-125,214-219
    loader = ParquetLoader(spark)
    with pytest.raises(ValueError):
        loader.load(nation_path(sf_dir), collection, batch_size=0)
    with pytest.raises(ValueError):
        loader.load(nation_path(sf_dir), collection, max_parallel_batches=0)


def part_sizes(collection):
    """Documents per part file, sorted: one part file per insert_many."""
    sizes = []
    for fp in collection._part_files():
        with open(fp, encoding="utf-8") as f:
            sizes.append(sum(1 for _ in f))
    return sorted(sizes)


def test_max_parallel_batches_maps_to_partitions(spark, sf_dir, collection,
                                                 tmp_path):
    loader = ParquetLoader(spark)
    n = loader.load(nation_path(sf_dir), collection, overwrite=True,
                    max_parallel_batches=4, batch_size=25)
    assert n == 25 and collection.count() == 25
    # one write task per requested partition, each one batch
    assert len(part_sizes(collection)) == 4
    natural = LocalCollection(str(tmp_path), "natural")
    loader.load(nation_path(sf_dir), natural, overwrite=True)
    assert (sorted(collection.iter_documents())
            == sorted(natural.iter_documents()))


def test_batches_span_arrow_batches(spark, sf_dir, collection):
    """Inserts are exactly ``batch_size`` long per write task, however the
    task's rows arrive in Arrow record batches (7 rows each here), and a
    task with no rows writes no part file."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        loader = ParquetLoader(spark)
        one_task = spark.read.parquet(nation_path(sf_dir)).coalesce(1)
        assert loader.load_dataframe(one_task, collection, overwrite=True,
                                     batch_size=5) == 25
        assert part_sizes(collection) == [5] * 5
        assert loader.load_dataframe(one_task, collection, overwrite=True,
                                     batch_size=10) == 25
        assert part_sizes(collection) == [5, 10, 10]

        sparse = spark.createDataFrame([(1,), (2,), (3,)],
                                       "id long").repartition(8)
        assert loader.load_dataframe(sparse, collection,
                                     overwrite=True) == 3
        sizes = part_sizes(collection)
        assert sum(sizes) == 3 and min(sizes) > 0
        assert sorted(d["id"] for d in collection.read_all()) == [1, 2, 3]
    finally:
        spark.conf.set(key, prev)


def test_loader_writes_through_one_arrow_stage():
    """Source-only guard (no Spark): the write is one ``mapInArrow`` stage
    whose tasks return their counts — no per-row RDD transfer and no
    accumulator that a retried task would inflate."""
    import pathlib

    import arangodb_java_parquet_spark.sources.loader as loader_mod
    src = pathlib.Path(loader_mod.__file__).read_text(encoding="utf-8")
    for banned in ("foreachPartition", ".rdd", "accumulator("):
        assert banned not in src, banned


def test_content_matches_pyarrow_oracle(spark, sf_dir, collection):
    # stronger than the reference's count-only assertions: decode written
    # docs and compare values + field order against the parquet source.
    loader = ParquetLoader(spark)
    loader.load(nation_path(sf_dir), collection, overwrite=True)
    table = pq.read_table(nation_path(sf_dir))
    expected = {r["n_nationkey"]: r for r in table.to_pylist()}
    docs = collection.read_all()
    assert len(docs) == len(expected)
    for doc in docs:
        exp = expected[doc["n_nationkey"]]
        assert doc == exp
        assert list(doc.keys()) == table.schema.names  # schema field order


def test_multi_file_directory_load(spark, sf_dir, collection, tmp_path):
    """The distributed generalization beyond the reference's single-file
    scan (ParquetArangoLoader.java:139): a directory of parquet files loads
    as one dataset."""
    import shutil
    d = tmp_path / "many"
    d.mkdir()
    shutil.copy(nation_path(sf_dir), d / "part1.parquet")
    shutil.copy(f"{sf_dir}/region.parquet", d / "ignore.txt")  # non-parquet
    (d / "ignore.txt").unlink()
    shutil.copy(nation_path(sf_dir), d / "part2.parquet")
    loader = ParquetLoader(spark)
    n = loader.load(str(d), collection, overwrite=True)
    assert n == 50 and collection.count() == 50


def test_type_converter_registry(spark, sf_dir, collection):
    # Spark analog of addTypeConverter (ParquetArangoLoader.java:74-76):
    # register timestamp -> ISO-8601 string like the reference Javadoc example.
    from pyspark.sql import functions as F
    loader = ParquetLoader(spark)
    loader.add_type_converter(
        "timestamp", lambda c: F.date_format(c, "yyyy-MM-dd'T'HH:mm:ss"))
    loader.load(f"{sf_dir}/orders.parquet", collection, overwrite=True)
    doc = collection.read_all()[0]
    assert isinstance(doc["o_orderdate"], str) and "T" in doc["o_orderdate"]


def test_reference_fidelity_encoding(spark):
    """Fidelity mode reproduces the reference encoder's special cases
    (GenericRecordJsonEncoder.java:113-124,174-216)."""
    from pyspark.sql import types as T
    from arangodb_java_parquet_spark.functions.docjson import encode_documents

    schema = T.StructType([
        T.StructField("s", T.StringType()),
        T.StructField("b", T.BinaryType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("i", T.LongType()),
    ])
    rows = [
        ('he"llo\n x', bytes([0x41, 0xFF, 0x00]), float("nan"), 7),
        (None, None, float("inf"), None),
        ("plain", b"AB", 1.5, -3),
    ]
    df = spark.createDataFrame(rows, schema).coalesce(1)
    docs = [r[0] for r in encode_documents(df, mode="reference").collect()]
    d0 = next(d for d in docs if '"i": 7' in d)
    # field order, escaped quote+newline, U+2028 as uppercase \uXXXX
    assert d0.startswith('{"s": "he\\"llo\\n\\u2028x"')
    # bytes wrapper with ISO-8859-1 decoding (0xFF -> ÿ, 0x00 -> \u0000)
    assert '"b": {"bytes": "Aÿ\\u0000"}' in d0
    # NaN quoted
    assert '"d": "NaN"' in d0
    d1 = next(d for d in docs if '"d": "Infinity"' in d)
    assert '"s": null' in d1 and '"b": null' in d1 and '"i": null' in d1
    d2 = next(d for d in docs if '"i": -3' in d)
    assert '"d": 1.5' in d2
    # all docs parse as JSON
    for d in docs:
        json.loads(d)


def test_reference_encode_plans_without_python(spark, tmp_path,
                                              monkeypatch):
    """The fidelity encode is Column expressions only: on a nested frame it
    plans python-free, and a reference-mode load runs exactly one Python
    stage, the write — each document crosses JVM->Python once."""
    import re

    from arangodb_java_parquet_spark.functions.docjson import encode_documents
    from arangodb_java_parquet_spark.plans.inspect import (formatted_plan,
                                                           is_python_free)
    df = spark.createDataFrame(
        [(1, (2.5, "x"), [b"\x00"], {"k": [1, None]}), (2, None, None, None)],
        "id long, st struct<d:double,s:string>, bs array<binary>, "
        "m map<string,array<int>>")
    assert is_python_free(encode_documents(df, mode="reference"))

    writes = []
    map_in_arrow = type(df).mapInArrow

    def spy(self, *args, **kwargs):
        writes.append(map_in_arrow(self, *args, **kwargs))
        return writes[-1]
    monkeypatch.setattr(type(df), "mapInArrow", spy)
    collection = LocalCollection(str(tmp_path), "docs")
    assert ParquetLoader(spark).load_dataframe(
        df, collection, overwrite=True, mode="reference") == 2
    assert len(writes) == 1
    nodes = re.findall(r"^\(\d+\) MapInArrow", formatted_plan(writes[0]),
                       re.M)
    assert len(nodes) == 1, formatted_plan(writes[0])


def test_docjson_has_no_python_stage():
    """Source-only guard (no Spark): the encoder module builds Column
    expressions and never runs Python over the rows."""
    import pathlib

    import arangodb_java_parquet_spark.functions.docjson as docjson
    src = pathlib.Path(docjson.__file__).read_text(encoding="utf-8")
    for banned in ("mapInArrow", "mapInPandas", "pyarrow", "pandas",
                   "numpy", "udf"):
        assert banned not in src, banned


def test_fidelity_timestamp_epoch_fallthrough(spark, sf_dir):
    """Unconverted timestamps emit raw epoch micros, matching the reference's
    logical-type fall-through (GenericRecordJsonEncoder.java:133-137)."""
    from arangodb_java_parquet_spark.functions.docjson import encode_documents
    df = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(5)
    docs = [json.loads(r[0]) for r in
            encode_documents(df, mode="reference").collect()]
    for doc in docs:
        v = doc["o_orderdate"]
        assert isinstance(v, int) and v > 10**14  # epoch micros magnitude


# ---------------------------------------------------------------------------
# ArangoCollectionSink without a server: a fake `arango` module pins the
# pickle contract and the import_bulk batching that a live run would use
# (mirrors the reference's insertDocuments call shape,
# ParquetArangoLoader.java:147,256).
# ---------------------------------------------------------------------------

class _FakeBulkCollection:
    def __init__(self, store):
        self.store = store

    def import_bulk(self, docs):
        self.store.append(list(docs))

    def count(self):
        return sum(len(b) for b in self.store)


class _FakeDb:
    def __init__(self, state):
        self.state = state

    def has_collection(self, name):
        return name in self.state

    def create_collection(self, name):
        self.state.setdefault(name, [])

    def delete_collection(self, name, ignore_missing=False):
        if name not in self.state and not ignore_missing:
            raise KeyError(name)
        self.state.pop(name, None)

    def collection(self, name):
        return _FakeBulkCollection(self.state[name])


def _install_fake_arango(monkeypatch, state):
    import sys
    import types
    mod = types.ModuleType("arango")

    class ArangoClient:
        logins = []

        def __init__(self, hosts):
            self.hosts = hosts

        def db(self, database, username, password):
            self.logins.append((self.hosts, database, username, password))
            return _FakeDb(state)

    mod.ArangoClient = ArangoClient
    monkeypatch.setitem(sys.modules, "arango", mod)


def test_arango_sink_pickles_without_connection(monkeypatch):
    import pickle

    from arangodb_java_parquet_spark.sources.collections import (
        ArangoCollectionSink)
    state = {}
    _install_fake_arango(monkeypatch, state)
    sink = ArangoCollectionSink("docs", url="http://example:8529")
    sink.create()
    assert sink._db is not None  # connected
    clone = pickle.loads(pickle.dumps(sink))
    # the pickle must DROP the live connection (executors reconnect)
    assert clone._db is None
    assert (clone.name, clone.url) == ("docs", "http://example:8529")
    # and the clone reconnects lazily on first use
    assert clone.exists()


def test_arango_sink_logs_in_with_its_credentials(monkeypatch):
    """A server with authentication is reached with the sink's own
    database, user and password, also by a pickled copy reconnecting in
    an executor."""
    import pickle
    import sys

    from arangodb_java_parquet_spark.sources.collections import (
        ArangoCollectionSink)
    _install_fake_arango(monkeypatch, {})
    sink = ArangoCollectionSink("docs", url="http://db:8529",
                                database="mydb", username="loader",
                                password="s3cret")
    sink.create()
    pickle.loads(pickle.dumps(sink)).exists()
    login = ("http://db:8529", "mydb", "loader", "s3cret")
    assert sys.modules["arango"].ArangoClient.logins == [login, login]


def test_arango_sink_import_bulk_batches(monkeypatch):
    import json

    from arangodb_java_parquet_spark.sources.collections import (
        ArangoCollectionSink)
    state = {}
    _install_fake_arango(monkeypatch, state)
    sink = ArangoCollectionSink("docs")
    sink.create()
    docs = [json.dumps({"_key": str(i), "v": i}) for i in range(5)]
    n = sink.insert_many(docs[:3]) + sink.insert_many(docs[3:])
    assert n == 5
    # one import_bulk call per insert_many, parsed to dicts
    assert [len(b) for b in state["docs"]] == [3, 2]
    assert state["docs"][0][0] == {"_key": "0", "v": 0}
    assert sink.count() == 5
    sink.drop()
    assert not sink.exists()
    sink.drop()  # ignore_missing path


def test_arango_sink_missing_dep_error(monkeypatch):
    import sys

    from arangodb_java_parquet_spark.sources.collections import (
        ArangoCollectionSink)
    monkeypatch.setitem(sys.modules, "arango", None)
    sink = ArangoCollectionSink("docs")
    with pytest.raises(RuntimeError, match="python-arango"):
        sink.exists()


def test_load_empty_dataframe_creates_empty_collection(spark, sf_dir,
                                                       collection):
    """Zero-row input: the collection must still be created (DDL runs
    before the write action) and hold zero documents — the reference's
    create-if-missing semantics with an empty parquet."""
    loader = ParquetLoader(spark)
    empty = spark.read.parquet(nation_path(sf_dir)).filter("n_nationkey < 0")
    n = loader.load_dataframe(empty, collection, overwrite=True)
    assert n == 0
    assert collection.exists()
    assert collection.count() == 0


def test_load_batch_size_one(spark, sf_dir, collection):
    """batch_size=1 — one insert per document — must still deliver every
    row exactly once (the smallest legal batch per the reference's
    validation boundary)."""
    loader = ParquetLoader(spark)
    n = loader.load(nation_path(sf_dir), collection, overwrite=True,
                    batch_size=1)
    assert n == 25 and collection.count() == 25


def test_load_all_null_and_unicode_columns(spark, collection):
    """Nulls in every type plus astral/control-range unicode must
    round-trip the sink as valid JSON documents."""
    df = spark.createDataFrame(
        [(1, None, None, None, " line sep \U0001F600"),
         (2, 3.5, "x", bytearray(b"\x00\xff"), None)],
        "id long, d double, s string, b binary, u string")
    loader = ParquetLoader(spark)
    n = loader.load_dataframe(df, collection, overwrite=True, mode="reference")
    assert n == 2
    docs = {doc["id"]: doc for doc in collection.read_all()}
    assert docs[1]["d"] is None and docs[1]["s"] is None
    assert docs[1]["u"] == " line sep \U0001F600"
    assert docs[2]["u"] is None and docs[2]["d"] == 3.5


def test_batched_edge_sizes():
    """batched(): size 1 yields singletons; size > input yields one
    partial batch; empty input yields nothing."""
    from arangodb_java_parquet_spark.sources.collections import batched
    assert list(batched(iter([1, 2, 3]), 1)) == [[1], [2], [3]]
    assert list(batched(iter([1, 2]), 10)) == [[1, 2]]
    assert list(batched(iter([]), 3)) == []


def test_corrupt_parquet_fails_loudly(spark, tmp_path, collection):
    """Documented divergence from the reference (collections.py:batched
    note): the reference's chunk iterator swallows IOException to null,
    silently truncating a load; here a corrupt file must FAIL the job —
    at scale a silent partial load is the worse bug."""
    bad = tmp_path / "corrupt.parquet"
    bad.write_bytes(b"PAR1 this is not really a parquet file \x00\x01")
    loader = ParquetLoader(spark)
    with pytest.raises(Exception):
        loader.load(str(bad), collection, overwrite=True)
    # and nothing was silently half-delivered
    assert collection.count() == 0
