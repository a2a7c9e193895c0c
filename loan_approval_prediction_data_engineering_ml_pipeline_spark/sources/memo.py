"""The engine's one read memo.

Re-reading a parquet dir on every query re-lists it and re-reads its
footers (tens to hundreds of ms of driver time per read), and some
reads are collected rows (centroids, codebooks, BM25 meta, a planning
estimate, a fixture freshness check) that cost a Spark job each. This
module memoizes all of them in one dict under one rule.

Key: ``(applicationId, normpath(path), rels, token, part)``. ``rels``
are the dirs or files under ``path`` the value was read from, ``part``
names what was derived from them (a lazy handle, collected rows, a
check) and ``token`` is the store's version of each rel:

- a rel under ``objects/`` is an immutable manifest object dir, so the
  rel itself is its token (no I/O);
- any other rel (a flat index dir, a fixture file) uses
  ``log_store_for(p).mtime(p)``. A Spark ``mode("overwrite")`` write
  recreates its directory, and a rewritten file gets a new mtime, so a
  rebuild by this or any other process changes the token. The parquet
  writers commit by renames (``loaders._swap_in``): a whole-store swap
  replaces the dir, and a partition swap renames entries of the store
  dir, which changes that dir's own mtime, so both change the token. A
  write made only inside an existing subdir would not; the engine's
  writers make none (index builds write new object dirs).

Eviction: inserting an entry drops the entries of other application ids
(dead sessions' JVM handles) and the entries for the same
``(path, rels, part)`` under another token. Nothing else invalidates.
"""

from __future__ import annotations

import os
import threading
from typing import Callable, Iterable, TypeVar

from .versioned import _join, log_store_for

T = TypeVar("T")

_MEMO: dict[tuple, object] = {}
_LOCK = threading.Lock()  # eviction + insert; lookups are single dict reads
_MISS = object()


def _token(path: str, rel: str):
    if rel.startswith("objects/"):
        return rel
    p = _join(path, rel) if rel else path
    try:
        return log_store_for(p).mtime(p)
    except OSError:  # missing: build() raises or reads nothing
        return None


def memo(spark, path: str, rels: Iterable[str], part, build: Callable[[], T]) -> T:
    """``build()``, computed once per version of ``rels`` under ``path``."""
    app_id = spark.sparkContext.applicationId
    rels = tuple(rels)
    norm = os.path.normpath(path)
    token = tuple(_token(path, r) for r in rels)
    key = (app_id, norm, rels, token, part)
    hit = _MEMO.get(key, _MISS)
    if hit is not _MISS:
        return hit
    value = build()
    with _LOCK:
        for k in [k for k in _MEMO if k[0] != app_id or k[1:3] + k[4:] == (norm, rels, part)]:
            del _MEMO[k]
        _MEMO[key] = value
    return value
