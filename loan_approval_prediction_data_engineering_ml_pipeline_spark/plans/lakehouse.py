"""Parity queries over VERSIONED tables — the lakehouse read path under
the same machine-checked oracle gate as every other operator family.

The fixture is a deterministic 3-version table built from the scale
factor's ``orders`` parquet (build-if-missing, exactly like the ANN
index fixtures in :mod:`.llm_data`): version 0 commits the ``F``-status
orders, v1 appends ``O``, v2 appends ``P`` — each slice range-partitioned
by ``o_orderdate`` so per-file min/max stats make date predicates
prunable. Because the history is append-only, every snapshot's file
list is exactly the union of its version directories, so the DuckDB
oracle re-reads the IDENTICAL bytes through directory globs — no
manifest parsing on the oracle side — and the comparison covers:

- the commit protocol's read path (manifest-resolved file lists),
- time travel (a pinned v1 read vs the v0+v1 glob),
- data skipping (a ``where=``-pruned read vs the FULL glob with the
  same predicate — skipping must be invisible in the result, VLDB 2020
  §3.3's contract).

Reference parity: the reference notebook overwrites its MySQL table in
place per run (MY.ipynb:513-527) with no history; this family is the
engine's durable replacement for that sink (see sources/versioned.py).
"""

from __future__ import annotations

import datetime
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import versioned as V
from ..sources.loaders import load_table
from ..sources.memo import memo
from .llm_data import _index_dir
from .registry import query

# statuses committed as versions 0, 1, 2 — append-only by construction
_VTAB_STATUSES = ("F", "O", "P")

# oracle strings are registered at import with the sf0.01 fixture path;
# tests/_retag_oracle rewrites the sf tag for other scales
_ORACLE_VTAB_DIR = _index_dir("sf0.01", "vtab")


def _ensure_vtab(spark: SparkSession, sf_dir: str) -> str:
    """Build-if-missing (and rebuild-if-stale) the committed versioned
    fixture. Staleness check is metadata-cheap: the v2 snapshot is the
    whole orders table, so its manifest row count must equal the live
    table's count — if the testdata was regenerated, rebuild so the
    Spark read and the DuckDB glob keep seeing the same files."""
    path = _index_dir(sf_dir, "vtab")

    def fresh() -> None:
        orders = load_table(spark, sf_dir, "orders")
        if V.latest_version(path) == len(_VTAB_STATUSES) - 1 and (
            V._read_manifest(path, 2)["rows"] == orders.count()
        ):
            return
        if os.path.exists(path):
            shutil.rmtree(path)
        for status in _VTAB_STATUSES:
            V.versioned_write(
                orders.where(F.col("o_orderstatus") == status)
                .repartitionByRange(4, "o_orderdate"),
                path,
            )

    memo(spark, sf_dir, ["orders.parquet"], ("fresh", path), fresh)
    return path


@query(
    "versioned_time_travel",
    # v1 snapshot == files of version dirs 0 and 1 (append-only fixture),
    # so the oracle reads the same bytes through the two directory globs.
    oracle=f"""
    SELECT o_orderstatus,
           count(*)                   AS n_orders,
           round(sum(o_totalprice), 4) AS total_price
    FROM read_parquet(['{_ORACLE_VTAB_DIR}/data/v0-*/*.parquet',
                       '{_ORACLE_VTAB_DIR}/data/v1-*/*.parquet'])
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    description="Time travel on a versioned table: a reader pins version 1 "
    "of the 3-version fixture and aggregates it; the manifest-resolved file "
    "list must equal the v0+v1 bytes exactly (snapshot isolation — the later "
    "v2 commit is invisible to the pinned read)",
    tier="local",
)
def versioned_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _ensure_vtab(spark, sf_dir)
    return (
        V.read_version(spark, path, 1)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "versioned_snapshot_skip",
    # the oracle scans the FULL latest snapshot (all three version dirs)
    # and filters — the Spark side prunes files via manifest min/max
    # stats first, so a hash match proves skipping changed which files
    # were opened, never the result.
    oracle=f"""
    SELECT o_orderpriority,
           count(*)                    AS n_orders,
           round(sum(o_totalprice), 4) AS total_price
    FROM read_parquet(['{_ORACLE_VTAB_DIR}/data/v0-*/*.parquet',
                       '{_ORACLE_VTAB_DIR}/data/v1-*/*.parquet',
                       '{_ORACLE_VTAB_DIR}/data/v2-*/*.parquet'])
    WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    description="Data-skipping read of the latest versioned snapshot: the "
    "o_orderdate predicate prunes the manifest file list via per-file "
    "min/max stats before Spark plans the scan (the fixture range-partitions "
    "each commit by date, so most files are provably out of range); the "
    "oracle full-scans the same snapshot with the same filter — identical "
    "results are the proof that pruning is a pure optimization",
    tier="local",
)
def versioned_snapshot_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _ensure_vtab(spark, sf_dir)
    pruned = V.read_version(
        spark, path, where=[("o_orderdate", ">=", datetime.datetime(2000, 1, 1))]
    )
    return (
        pruned.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "versioned_change_feed",
    # the fixture history is append-only, so the CDF between v0 and v2 is
    # exactly the rows of the v1 and v2 version directories as inserts —
    # the oracle re-derives the feed from the same bytes with literal
    # change columns.
    oracle=f"""
    SELECT _commit_version, _change_type, o_orderstatus,
           count(*)                    AS n_rows,
           round(sum(o_totalprice), 4) AS total_price
    FROM (
      SELECT *, CAST(1 AS BIGINT) AS _commit_version, 'insert' AS _change_type
      FROM read_parquet('{_ORACLE_VTAB_DIR}/data/v1-*/*.parquet')
      UNION ALL
      SELECT *, CAST(2 AS BIGINT), 'insert'
      FROM read_parquet('{_ORACLE_VTAB_DIR}/data/v2-*/*.parquet')
    )
    GROUP BY _commit_version, _change_type, o_orderstatus
    ORDER BY _commit_version, o_orderstatus
    """,
    description="Change data feed between versioned snapshots: rows each "
    "commit inserted/deleted, derived from the manifest file-list diff and "
    "stamped with _commit_version/_change_type (Delta CDF semantics); on the "
    "append-only fixture the feed (v0, v2] must equal the v1+v2 bytes as "
    "inserts — the oracle re-reads those directories with literal change "
    "columns, proving the log-derived feed touches exactly the diffed files",
    tier="local",
)
def versioned_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _ensure_vtab(spark, sf_dir)
    return (
        V.read_changes(spark, path, 0, 2)
        .groupBy("_commit_version", "_change_type", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        )
        .orderBy("_commit_version", "o_orderstatus")
    )


# deletion-vector fixture: the F-status slice committed once, then a
# merge-on-read DELETE of its URGENT orders — data files untouched,
# masks in dv/ (build-if-missing like the vtab fixture above)
_ORACLE_VTAB_DV_DIR = _index_dir("sf0.01", "vtab_dv")


def _ensure_vtab_dv(spark: SparkSession, sf_dir: str) -> str:
    path = _index_dir(sf_dir, "vtab_dv")

    def fresh() -> None:
        orders = load_table(spark, sf_dir, "orders")
        f_slice = orders.where(F.col("o_orderstatus") == "F")
        want_rows = f_slice.where(F.col("o_orderpriority") != "1-URGENT").count()
        if V.latest_version(path) == 1 and V._read_raw_manifest(path, 1)["rows"] == want_rows:
            return
        if os.path.exists(path):
            shutil.rmtree(path)
        V.versioned_write(f_slice.repartitionByRange(4, "o_orderdate"), path)
        V.delete_where(spark, path, [("o_orderpriority", "==", "1-URGENT")])

    memo(spark, sf_dir, ["orders.parquet"], ("fresh", path), fresh)
    return path


@query(
    "versioned_delete_vectors",
    # The oracle reproduces the merge-on-read scan from the SAME bytes:
    # data files via the v0 glob with DuckDB's file_row_number/filename,
    # minus the (file_name, row_index) pairs in the committed DV parquet
    # — an independent re-derivation of the mask anti-join, so a hash
    # match proves deleted rows are invisible and nothing else moved.
    oracle=f"""
    SELECT o_orderpriority,
           count(*)                    AS n_orders,
           round(sum(o_totalprice), 4) AS total_price
    FROM (
      SELECT d.o_orderpriority, d.o_totalprice
      FROM read_parquet('{_ORACLE_VTAB_DV_DIR}/data/v0-*/*.parquet',
                        filename=1, file_row_number=1) d
      ANTI JOIN read_parquet('{_ORACLE_VTAB_DV_DIR}/dv/v1-*/*.parquet') m
        ON regexp_extract(d.filename, '[^/]+$') = m.file_name
       AND d.file_row_number = m.row_index
    )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    description="Merge-on-read DELETE via deletion vectors: the latest "
    "snapshot scans untouched data files and drops masked rows through one "
    "broadcast anti-join on _metadata.row_index; the oracle independently "
    "re-derives the mask subtraction in DuckDB (file_row_number + filename "
    "against the committed DV parquet) — a hash match proves the deleted "
    "rows are invisible and every surviving row is byte-identical",
    tier="local",
)
def versioned_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _ensure_vtab_dv(spark, sf_dir)
    return (
        V.read_version(spark, path)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )
