"""Document-collection sinks — the Spark analog of the reference's ArangoDB
collection target (schema-less JSON document store, append semantics,
create/drop DDL).

Reference behavior being mirrored (see SURVEY.md §1.2, §2.1 #6-8):
  * sink DDL: create-if-missing; ``overwrite`` = drop + recreate
    (ParquetArangoLoader.java:129-135 in the reference)
  * inserts are batched lists of JSON strings and always APPEND
    (ParquetArangoLoader.java:142-154)

Two backends:
  * :class:`LocalCollection` — a directory of JSONL part files. Hermetic (no
    server), safe for concurrent executor writes (each flush creates a unique
    part file — the same contract as Spark's own file sinks, so it scales to
    any number of write tasks on a shared filesystem).
  * :class:`ArangoCollectionSink` — thin wrapper over python-arango's
    ``import_bulk`` gated behind an import-try (the driver image has no
    ArangoDB server; on a real deployment each executor opens its own client).

Both are picklable so they can travel into the loader's Arrow-batched
``mapInArrow`` write closure.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Iterable, Iterator


class Collection:
    """Sink contract: a named, schema-less document collection."""

    name: str

    def exists(self) -> bool:
        raise NotImplementedError

    def create(self) -> None:
        raise NotImplementedError

    def drop(self) -> None:
        raise NotImplementedError

    def ensure(self, overwrite: bool = False) -> None:
        """Reference DDL semantics: create if missing, else drop+create when
        ``overwrite`` (ParquetArangoLoader.java:129-135)."""
        if not self.exists():
            self.create()
        elif overwrite:
            self.drop()
            self.create()

    def insert_many(self, docs: list[str]) -> int:
        """Insert a batch of JSON document strings. Returns docs inserted."""
        raise NotImplementedError

    def count(self) -> int:
        raise NotImplementedError


class LocalCollection(Collection):
    """Directory-of-JSONL collection. Layout::

        <root>/<name>/part-<uuid>.jsonl

    Concurrent-writer safe: every ``insert_many`` flush writes a fresh
    uniquely-named part file (write-to-temp + atomic rename), so N Spark
    tasks can insert simultaneously without coordination — this is what
    replaces the reference's bounded-in-flight async batching at scale.
    """

    def __init__(self, root: str, name: str):
        self.root = root
        self.name = name

    @property
    def path(self) -> str:
        return os.path.join(self.root, self.name)

    def exists(self) -> bool:
        return os.path.isdir(self.path)

    def create(self) -> None:
        os.makedirs(self.path, exist_ok=True)

    def drop(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)

    def insert_many(self, docs: list[str]) -> int:
        if not docs:
            return 0
        tmp = os.path.join(self.path, f".tmp-{uuid.uuid4().hex}")
        final = os.path.join(self.path, f"part-{uuid.uuid4().hex}.jsonl")
        with open(tmp, "w", encoding="utf-8") as f:
            for d in docs:
                f.write(d)
                f.write("\n")
        os.rename(tmp, final)
        return len(docs)

    def _part_files(self) -> list[str]:
        if not self.exists():
            return []
        return sorted(
            os.path.join(self.path, p)
            for p in os.listdir(self.path)
            if p.startswith("part-") and p.endswith(".jsonl")
        )

    def count(self) -> int:
        n = 0
        for fp in self._part_files():
            with open(fp, encoding="utf-8") as f:
                n += sum(1 for _ in f)
        return n

    def iter_documents(self) -> Iterator[str]:
        for fp in self._part_files():
            with open(fp, encoding="utf-8") as f:
                for line in f:
                    yield line.rstrip("\n")

    def read_all(self) -> list[dict]:
        return [json.loads(d) for d in self.iter_documents()]


class ArangoCollectionSink(Collection):
    """ArangoDB-backed collection via python-arango (optional dependency).

    Mirrors the reference's use of the Java driver's
    ``collection.insertDocuments(List<String>)``
    (ParquetArangoLoader.java:147,256) with ``import_bulk``.

    Conscious divergence — wire format: the reference serializes over
    VelocyPack (``ArangoJack``, pom.xml:65-69); python-arango speaks
    JSON/HTTP. Same documents, same server state — transport fidelity
    only, no analog provided.

    The client is created lazily per process so the object pickles cleanly
    into executor tasks; each Spark task holds its own connection, which is
    the distributed generalization of the reference's single async client
    with ``maxParallelBatches`` in-flight requests.
    """

    def __init__(self, name: str, url: str = "http://127.0.0.1:8529",
                 database: str = "_system", username: str = "root",
                 password: str = ""):
        self.name = name
        self.url = url
        self.database = database
        self.username = username
        self.password = password
        self._db = None

    def _connect(self):
        if self._db is None:
            try:
                from arango import ArangoClient  # type: ignore
            except ImportError as e:  # pragma: no cover - optional dep
                raise RuntimeError(
                    "ArangoCollectionSink requires the optional 'python-arango' "
                    "package; use LocalCollection for hermetic runs") from e
            client = ArangoClient(hosts=self.url)
            self._db = client.db(self.database, username=self.username,
                                 password=self.password)
        return self._db

    def __getstate__(self):
        state = self.__dict__.copy()
        state["_db"] = None  # connections don't pickle; reconnect per task
        return state

    def exists(self) -> bool:  # pragma: no cover - needs server
        return self._connect().has_collection(self.name)

    def create(self) -> None:  # pragma: no cover - needs server
        self._connect().create_collection(self.name)

    def drop(self) -> None:  # pragma: no cover - needs server
        self._connect().delete_collection(self.name, ignore_missing=True)

    def insert_many(self, docs: list[str]) -> int:  # pragma: no cover
        col = self._connect().collection(self.name)
        col.import_bulk([json.loads(d) for d in docs])
        return len(docs)

    def count(self) -> int:  # pragma: no cover - needs server
        return self._connect().collection(self.name).count()


def batched(it: Iterable, size: int) -> Iterator[list]:
    """Group an iterator into fixed-size lists (last one partial) — the Spark
    analog of the reference's ChunkedParquetReaderIterator
    (ChunkedParquetReaderIterator.java:10-45), used inside the loader's
    Arrow-batched ``mapInArrow`` write, where it regroups a task's documents
    across Arrow record batches: every batch but a task's last holds
    ``size``.

    Conscious divergence — error semantics: the reference's iterator
    swallows ``IOException`` in ``next()`` and yields ``null``
    (ChunkedParquetReaderIterator.java:27-33), silently truncating the
    load. Here a read error fails the Spark task loudly (and retries per
    Spark's policy) — at 100 TB a silent partial load is the worse bug.
    """
    batch: list = []
    for x in it:
        batch.append(x)
        if len(batch) >= size:
            yield batch
            batch = []
    if batch:
        yield batch
