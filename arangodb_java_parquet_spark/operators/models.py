"""Fitted-artifact store: persist what an in-engine fit learns (IVF
centroids, BPE merges, IRLS weights, LM vocabularies) as plain parquet
tables and reload them for later apply jobs.

This is the production split the fit queries imply: training-data
pipelines fit ONCE (expensive, full-corpus) and apply DAILY (cheap,
broadcast the artifact). Artifacts are ordinary DataFrames, so the store
is just a directory-of-parquet convention plus a tiny manifest — no new
serialization format, readable by any engine (the same portability rule
as the oracle SQL), and writable/readable from any executor count.

Layout::

    <root>/<name>/manifest.json   {"name", "kind", "columns"}
    <root>/<name>/data.parquet    the artifact rows
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def save_model(df: DataFrame, root: str, name: str, kind: str,
               partition_by: tuple = ()) -> str:
    """Persist a fitted-artifact DataFrame. Overwrites any prior version
    (fit jobs are idempotent re-runs). Returns the model directory.

    ``partition_by`` lays the artifact out hive-partitioned on those
    columns — e.g. an IVF codes table partitioned by coarse cell, so a
    probe that joins/filters on the cell reads ONLY the probed
    partitions (partition pruning at the scan, the layout every ANN
    serving system uses)."""
    mdir = os.path.join(root, name)
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(os.path.join(mdir, "data.parquet"))
    manifest = {"name": name, "kind": kind, "columns": df.columns,
                "partition_by": list(partition_by)}
    os.makedirs(mdir, exist_ok=True)
    with open(os.path.join(mdir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return mdir


def load_model(spark: SparkSession, root: str, name: str,
               expect_kind: str | None = None) -> DataFrame:
    """Reload a fitted artifact; validates the manifest kind/columns so an
    apply job fails loudly on a mismatched artifact, not with wrong
    results."""
    mdir = os.path.join(root, name)
    with open(os.path.join(mdir, "manifest.json")) as f:
        manifest = json.load(f)
    if expect_kind is not None and manifest["kind"] != expect_kind:
        raise ValueError(
            f"model {name!r} has kind {manifest['kind']!r}, "
            f"expected {expect_kind!r}")
    df = spark.read.parquet(os.path.join(mdir, "data.parquet"))
    missing = [c for c in manifest["columns"] if c not in df.columns]
    if missing:
        raise ValueError(f"model {name!r} missing columns {missing}")
    return df.select(*manifest["columns"])


def store_root_for(sf_dir: str, *tables: str) -> str:
    """Default store root for fitted artifacts derived from ``sf_dir``'s
    parquet tables, keyed by the SOURCE FILES' identity (path + mtime +
    size). Regenerated testdata therefore lands in a DIFFERENT root and a
    stale artifact can never be served against new data — the staleness
    guard a production pipeline gets from partition watermarks."""
    parts = []
    for tbl in tables:
        path = os.path.join(os.path.abspath(sf_dir), f"{tbl}.parquet")
        try:
            st = os.stat(path)
            parts.append(f"{path}:{st.st_mtime_ns}:{st.st_size}")
        except OSError:
            parts.append(f"{path}:missing")
    sig = hashlib.md5("|".join(parts).encode()).hexdigest()[:16]
    base = os.path.join(tempfile.gettempdir(),
                        f"ajps_model_store_{os.getuid()}")
    os.makedirs(base, mode=0o700, exist_ok=True)
    try:  # pre-existing dir: enforce private perms, don't trust them
        os.chmod(base, 0o700)
    except OSError:
        pass
    return os.path.join(base, sig)


def ensure_model(spark: SparkSession, root: str, name: str, kind: str,
                 fit: Callable[[], DataFrame],
                 partition_by: tuple = ()) -> DataFrame:
    """Fit-once / load-later: return the stored artifact if present, else
    run ``fit()``, persist it, and return the reload. The reload (not the
    fit lineage) is returned in BOTH cases so callers always get the
    truncated-plan parquet scan — the whole point of amortizing a fit.

    Concurrent fitters race benignly: each writes to a pid-suffixed temp
    model and renames into place; the loser discards its copy and loads
    the winner's (artifact content is deterministic, so either is
    correct)."""
    mdir = os.path.join(root, name)
    if not os.path.isfile(os.path.join(mdir, "manifest.json")):
        tmp = f".{name}.tmp{os.getpid()}"
        save_model(fit(), root, tmp, kind, partition_by=partition_by)
        try:
            os.rename(os.path.join(root, tmp), mdir)
        except OSError:
            # Either another fitter won the race (winner's manifest exists
            # -> discard our copy and load theirs) or the rename failed for
            # a real reason (cross-device root, invalid name) — in which
            # case silently dropping the fit would surface later as a
            # confusing missing-manifest load error. Distinguish them.
            if os.path.isfile(os.path.join(mdir, "manifest.json")):
                shutil.rmtree(os.path.join(root, tmp), ignore_errors=True)
            else:
                raise
    return load_model(spark, root, name, expect_kind=kind)
