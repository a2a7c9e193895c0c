"""The Python worker daemon of the engine's sessions: ``pyspark.daemon``
with zip-archive directory re-reads skipped while an archive is unchanged.

Every task a Python worker runs starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.11 each
``zipimporter`` then re-reads its archive's whole central directory, and a
worker that imports pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``
holds one importer per imported subpackage: a profile of a trivial
pandas-UDF task showed 16 full re-reads of that 1,300-entry archive, about
half the task's time. :func:`guard_zip_rereads` has each importer re-read
its archive only when the archive's size or mtime changed since that
importer's last read, so a rewritten archive is still seen, and a reused
worker reads each archive once per importer instead of once per task.
``session.get_spark`` starts workers through this module
(``spark.python.daemon.module``) unless the caller sets that conf.

Run as ``python -m <package>.worker_daemon``, as Spark does.
"""

from __future__ import annotations

import os
import zipimport


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only when
    its size or mtime changed since this importer last read it."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _ORIGINAL(self)
        self._read_stamp = stamp


_ORIGINAL = zipimport.zipimporter.invalidate_caches


def guard_zip_rereads() -> None:
    """Install :func:`_invalidate_caches` for every ``zipimporter`` of this
    process and of the workers it forks."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    guard_zip_rereads()
    from pyspark import daemon

    daemon.manager()
