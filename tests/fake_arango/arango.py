"""File-backed stand-in for the ``python-arango`` package, used by
tests/test_arango_sink_e2e.py to drive ``ArangoCollectionSink`` through a
REAL distributed ``ParquetLoader.load`` (pickled into the mapInArrow write,
per-task lazy reconnect) without an ArangoDB server.

The sink's ``url`` smuggles the storage root (``stub:///tmp/...``), so
every Spark python worker process — which imports this module via
``addPyFile``, NOT via the driver's monkeypatched sys.modules — writes to
the same directory. Each ``import_bulk`` call appends one JSONL part file
whose name encodes the batch size, letting the test assert the exact
call/batch protocol the reference exercises against a live server
(ParquetArangoLoaderTest.java:108-134).
"""

import json
import os
import shutil
import uuid


class _StubCollection:
    def __init__(self, path):
        self.path = path

    def import_bulk(self, docs):
        docs = list(docs)
        tmp = os.path.join(self.path, f".tmp-{uuid.uuid4().hex}")
        final = os.path.join(
            self.path, f"bulk-{len(docs):06d}-{uuid.uuid4().hex}.jsonl")
        with open(tmp, "w", encoding="utf-8") as f:
            for d in docs:
                f.write(json.dumps(d, sort_keys=True))
                f.write("\n")
        os.rename(tmp, final)

    def count(self):
        n = 0
        for p in os.listdir(self.path):
            if p.startswith("bulk-"):
                with open(os.path.join(self.path, p), encoding="utf-8") as f:
                    n += sum(1 for _ in f)
        return n


class _StubDatabase:
    def __init__(self, root, database):
        self.root = os.path.join(root, database)

    def _cpath(self, name):
        return os.path.join(self.root, name)

    def has_collection(self, name):
        return os.path.isdir(self._cpath(name))

    def create_collection(self, name):
        os.makedirs(self._cpath(name), exist_ok=True)

    def delete_collection(self, name, ignore_missing=False):
        if not os.path.isdir(self._cpath(name)) and not ignore_missing:
            raise KeyError(name)
        shutil.rmtree(self._cpath(name), ignore_errors=True)

    def collection(self, name):
        return _StubCollection(self._cpath(name))


class ArangoClient:
    def __init__(self, hosts):
        if not hosts.startswith("stub://"):
            raise RuntimeError(
                "fake arango stub only accepts stub://<dir> urls")
        self.root = hosts[len("stub://"):]

    def db(self, database, username, password):
        return _StubDatabase(self.root, database)
