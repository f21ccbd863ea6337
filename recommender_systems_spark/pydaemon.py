"""PySpark worker daemon that keeps zip-archive directories between tasks.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. On CPython 3.11 that makes each ``zipimport.zipimporter`` on
``sys.path`` re-parse its archive's central directory: pyspark.zip once
per imported sub-package, the spark-core jar and py4j, about 27k entries
and a quarter of a second of CPU per task. Those archives do not change
while a worker lives, so :func:`install` lets an importer re-read its
archive only when the file's ``(st_mtime_ns, st_size, st_ino)`` stamp
differs from the one the importer last saw. An importer seen for the
first time keeps the directory it read when it was built.

``python -m recommender_systems_spark.pydaemon`` installs the rule and
runs PySpark's own daemon; ``session.get_spark`` names this module in
``spark.python.daemon.module`` for local masters. Nothing here writes
to stdout, which carries the daemon's handshake with the JVM.
"""

from __future__ import annotations

import os
import zipimport


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read only changed archives."""
    original = zipimport.zipimporter.invalidate_caches
    if hasattr(original, "__wrapped__"):
        return

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        seen = self.__dict__.get("_stamp", stamp)
        self._stamp = stamp
        if stamp is None or stamp != seen:
            original(self)

    invalidate_caches.__wrapped__ = original
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
