"""Executor-side package distribution.

UDF stages (applyInPandas solvers, SGD partitions) reference functions
in this package by module path; executor Python workers must therefore
be able to ``import recommender_systems_spark``. When the driver
process wasn't launched from the repo root (the external driver builds
its own vanilla SparkSession), the workers' sys.path knows nothing
about us — so the engine ships itself: zip the package once per
process and ``addPyFile`` it once per SparkContext. This is exactly
how a real cluster deployment distributes the code (spark-submit
--py-files), done automatically.

Sessions built by ``session.get_spark`` on a local master do not need
the zip: their workers fork from ``pydaemon``, which has already
imported the package from its source directory
(``spark.executorEnv.PYTHONPATH``), so the package directory wins over
the zip there. The zip serves the sessions the engine did not build,
such as the external driver's plain SparkSession, and cluster masters.
"""

from __future__ import annotations

import os
import zipfile

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_CACHE = os.path.join(os.path.dirname(_PKG_DIR), ".data_cache")

_zip_path: str | None = None
_shipped_contexts: set[int] = set()


def _build_zip() -> str:
    global _zip_path
    if _zip_path is not None and os.path.exists(_zip_path):
        return _zip_path
    os.makedirs(_CACHE, exist_ok=True)
    out = os.path.join(_CACHE, f"recommender_systems_spark_{os.getpid()}.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(_PKG_DIR):
            if "__pycache__" in root:
                continue
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                rel = os.path.join(
                    "recommender_systems_spark", os.path.relpath(full, _PKG_DIR)
                )
                zf.write(full, rel)
    _zip_path = out
    return out


def ensure_shipped(spark) -> None:
    """Idempotently attach the package zip to this SparkContext."""
    sc = spark.sparkContext
    key = id(sc)
    if key in _shipped_contexts:
        return
    sc.addPyFile(_build_zip())
    _shipped_contexts.add(key)
