"""Self-shipping: make this package importable on executor Python workers.

Any operator that serializes a closure referencing package code (the loader's
Arrow-batched mapInArrow write, the mapInPandas decoders)
must call ``ensure_package_shipped`` first — executors deserialize those
closures by importing the package, which isn't on their path when the driver
process runs from another directory, and isn't present at all on a real
cluster. Zipping the package once per process and adding it once per
SparkContext (the --py-files pattern, automated) makes every Python-side
operator location-independent.
"""

from __future__ import annotations

import atexit
import os
import tempfile
import threading
import zipfile

from pyspark.sql import SparkSession

_LOCK = threading.Lock()
_zip_path: str | None = None


def ensure_package_shipped(spark: SparkSession) -> None:
    """Add the package zip to ``spark``'s context once. Safe to call from
    concurrent threads: the check and the ship run under one lock, and the
    zip is written once per process (a restarted context re-ships it)."""
    global _zip_path
    sc = spark.sparkContext
    with _LOCK:
        if getattr(sc, "_ajps_pkg_shipped", False):
            return
        if _zip_path is None:
            _zip_path = _write_package_zip()
        sc.addPyFile(_zip_path)
        sc._ajps_pkg_shipped = True


def _write_package_zip() -> str:
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zip_path = os.path.join(tempfile.gettempdir(),
                            f"ajps_pkg_{os.getpid()}.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.join(pkg_name,
                                       os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
    # Spark copies the file into its own fileserver dir on addPyFile; the
    # /tmp original would otherwise leak one zip per process (atexit, not
    # immediate unlink: addPyFile distribution may be lazy on some masters)
    atexit.register(lambda p=zip_path: os.path.exists(p) and os.remove(p))
    return zip_path
