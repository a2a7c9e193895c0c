"""Snapshot-atomic index publishes — the shared manifest-pointer
protocol behind the BM25 posting index and the IVF ANN index
(VERDICT r9 #2, the Delta/Iceberg pattern applied to secondary
indexes).

Every index mutation writes IMMUTABLE ``objects/<id>/`` component
directories first, then publishes ONE manifest that maps each component
(and each bucket/cell within it) to its current object dir, with an
atomic put-if-absent through the same
:class:`~..sources.versioned.LogStore` the lakehouse commit protocol
uses. Probes resolve the manifest once and read only dirs it
references, so a reader sees the old index or the new index IN FULL —
never a new component with stale metadata; a crash before the commit
leaves orphan object dirs (reclaimable by :func:`vacuum_index`) and an
unchanged manifest; a lost manifest race raises
:class:`~..sources.versioned.CommitConflict` with nothing partially
visible. Cold buckets carry over between versions BY REFERENCE (zero
copy), which keeps incremental maintenance at O(touched buckets) write
cost — at 100 TB this is the only upsert shape that doesn't degrade
into a rebuild.

Manifest layout at an index root::

    <root>/_index_log/v1.json, v2.json, ...   # atomic put-if-absent
    <root>/objects/<hex>/<component>/...       # immutable once referenced

Manifest documents are flat JSON: scalar attributes (whatever the index
kind records — gram, n_buckets, n_lists, ...) plus component entries
that are either a single relative dir (``"meta": "objects/a/meta"``) or
a bucket map (``"postings": {"3": "objects/a/postings/bucket=3"}``).
"""

from __future__ import annotations

import json
import re
import uuid

from ..sources.versioned import CommitConflict, _join, log_store_for

_IMANIFEST_RE = re.compile(r"^v(\d+)\.json$")


def _ilog_dir(path: str) -> str:
    return _join(path, "_index_log")


def index_versions(path: str) -> list[int]:
    out = []
    for name in log_store_for(path).list_dir(_ilog_dir(path)):
        m = _IMANIFEST_RE.match(name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def read_index_manifest(path: str, version: int | None = None) -> dict | None:
    """The committed index snapshot (latest by default), or None when
    ``path`` holds no manifest (uninitialized, or a legacy flat-layout
    index from before the atomic-publish protocol)."""
    versions = index_versions(path)
    if not versions:
        return None
    v = versions[-1] if version is None else version
    return json.loads(
        log_store_for(path).read_text(_join(_ilog_dir(path), f"v{v}.json"))
    )


def commit_index_manifest(path: str, version: int, doc: dict) -> None:
    try:
        log_store_for(path).write_exclusive(
            _join(_ilog_dir(path), f"v{version}.json"),
            json.dumps({**doc, "version": version}, sort_keys=True),
        )
    except FileExistsError as exc:
        raise CommitConflict(
            f"index version {version} at {path} was committed by another "
            "writer — re-resolve the manifest and retry the mutation"
        ) from exc


def new_object_rel() -> str:
    return f"objects/{uuid.uuid4().hex[:12]}"


def bucket_map(path: str, obj_rel: str, component: str, key: str) -> dict[str, str]:
    """{bucket value -> manifest-relative dir} for the hive dirs a
    write just produced under ``objects/<id>/<component>``."""
    root = _join(path, obj_rel, component)
    out = {}
    for d in log_store_for(path).list_subdirs(root):
        if d.startswith(f"{key}="):
            out[d.split("=", 1)[1]] = f"{obj_rel}/{component}/{d}"
    return out


def _referenced_objects(doc: dict) -> set[str]:
    refs: set[str] = set()

    def add(rel: str) -> None:
        parts = rel.split("/")
        if parts[0] == "objects":
            refs.add(parts[1])

    for v in doc.values():
        if isinstance(v, str):
            add(v)
        elif isinstance(v, dict):
            for rel in v.values():
                if isinstance(rel, str):
                    add(rel)
    return refs


def vacuum_index(
    path: str, keep_last: int = 1, *, grace_seconds: float = 3600.0
) -> int:
    """Reclaim object dirs unreferenced by the ``keep_last`` most recent
    manifests (crash orphans and rolled-off versions), then drop the
    older manifests. Object dirs are shared across versions (cold-bucket
    carry-over), so retention is by OBJECT reference, not by version.
    Returns the number of object dirs removed.

    ``grace_seconds`` is the Delta-VACUUM-style retention window
    (VERDICT r12 #2): an IN-FLIGHT writer has written its object dir
    but not yet committed the manifest that references it, so to a
    reference-only walk it is indistinguishable from a crash orphan.
    Unreferenced dirs younger than the grace window (by
    ``store.mtime``) are therefore skipped — they are either a live
    write about to commit or a fresh orphan the next vacuum reclaims.
    Pass ``grace_seconds=0`` only when all writers are known quiesced
    (tests, single-writer maintenance windows)."""
    import time

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    store = log_store_for(path)
    versions = index_versions(path)
    if not versions:
        return 0
    kept = versions[-keep_last:]
    referenced: set[str] = set()
    for v in kept:
        referenced |= _referenced_objects(read_index_manifest(path, v))
    now = time.time()
    removed = 0
    for d in store.list_subdirs(_join(path, "objects")):
        if d in referenced:
            continue
        if grace_seconds > 0:
            try:
                age = now - store.mtime(_join(path, "objects", d))
            except FileNotFoundError:
                age = 0.0  # listed but not stat-able: treat as in-flight
            if age < grace_seconds:
                continue
        store.delete_tree(_join(path, "objects", d))
        removed += 1
    for v in versions[:-keep_last]:
        store.delete(_join(_ilog_dir(path), f"v{v}.json"))
    return removed
