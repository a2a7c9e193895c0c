"""Scan-size estimate, and the scan-parallelism helper built on it.

Text/hash-heavy operators (md5 fingerprints, minhash permutations, regex
scrubbing, n-gram explosion) are CPU-bound per row, so their wall time is
set by how many cores the map stage actually uses. Parquet parallelism is
bounded by ROW GROUPS, not byte splits: a small table written as one file
with one row group scans as ONE task no matter how many byte-range splits
the planner cuts, and every downstream map expression before the first
exchange runs serial. At 100 TB inputs arrive as many multi-row-group
files and none of this fires; the guard exists so the same plan does not
collapse to one core on small inputs (dev tiers, dimension-sized corpora,
per-tenant slices).

The estimate is METADATA-ONLY. The previous implementation probed
``df.rdd.getNumPartitions()``, which under AQE *executes every upstream
query stage* to learn the final partitioning — measured 3-7.5 s of thrown
away work per call on a windowed lineage at sf0.1, and at production scale
it would run the upstream shuffles twice. :func:`scan_estimate` instead
reads the leaf files' sizes (driver-side file-index metadata, no job) and
packs them as Spark's file-source planning does
(:func:`packed_partitions`): each file is charged ``size +
openCostInBytes``, the split size is ``min(maxPartitionBytes,
max(openCostInBytes, Σ charge / minPartitions))`` — so on small inputs it
shrinks toward one split per slot — and split chunks pack largest first
into partitions of at most one split. Many tiny files therefore count as
few tasks only where Spark's packing makes them few. The same estimate
sizes two decisions: :func:`ensure_cpu_parallelism` spreads a scan that
packs into fewer partitions than ``defaultParallelism``, and
``sources.loaders.load_table`` reads a table no bigger than one file's
open cost as a single partition. Listing stops once the sizes pass the
caller's limit, so a large scan costs a bounded number of ``stat`` calls;
a file not on the local filesystem leaves the plan alone.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


_BYTE_SUFFIX = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _byte_conf(spark, key: str, default: int) -> int:
    """A Spark byte-size conf ("134217728", "128m", "1g"); ``default``
    when unset or unparsable."""
    v = spark.conf.get(key, str(default)).strip().lower().removesuffix("b")
    try:
        if v and v[-1] in _BYTE_SUFFIX:
            return int(v[:-1]) * _BYTE_SUFFIX[v[-1]]
        return int(v)
    except ValueError:
        return default


def _max_partition_bytes(spark) -> int:
    return _byte_conf(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)


def open_cost_bytes(spark) -> int:
    """``spark.sql.files.openCostInBytes``: Spark's price, in scanned
    bytes, of opening one file."""
    return _byte_conf(spark, "spark.sql.files.openCostInBytes", 4 << 20)


def _local_path(uri: str) -> str:
    if uri.startswith("file:"):
        path = uri[5:]
        while path.startswith("//"):
            path = path[1:]
        return path
    return uri


def packed_partitions(
    sizes: list[int], max_partition_bytes: int, open_cost: int, min_partitions: int
) -> int:
    """Scan partitions Spark's file-source planning packs files of these
    byte ``sizes`` into (``FilePartition.maxSplitBytes`` and
    ``getFilePartitions``): files split into chunks of the split size,
    chunks sorted largest first, and a partition closes when the next
    chunk would take it past one split; each chunk charges its length plus
    ``open_cost``."""
    charged = sum(sizes) + open_cost * len(sizes)
    split = min(max_partition_bytes, max(open_cost, charged // max(1, min_partitions)))
    chunks = sorted(
        (min(split, size - at) for size in sizes for at in range(0, size, split)),
        reverse=True,
    )
    parts = current = 0
    for chunk in chunks:
        if current and current + chunk > split:
            parts, current = parts + 1, 0
        current += chunk + open_cost
    return parts + (1 if current else 0)


def scan_estimate(df: DataFrame, limit: int) -> tuple[int, int] | None:
    """``(bytes, partitions)`` of ``df``'s leaf scans: their files' total
    size and the scan partitions Spark packs them into. None when the
    lineage has no leaf files (an RDD or in-memory leaf: probing ``df.rdd``
    would execute every AQE stage above it), when a file is not on the
    local filesystem, or when the files total more than ``limit`` bytes —
    listing stops there, so callers pass the size past which their
    decision is settled."""
    spark = df.sparkSession
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    sizes, total = [], 0
    for f in files:
        try:
            size = os.path.getsize(_local_path(f))
        except OSError:
            return None
        total += size
        if total > limit:
            return None
        sizes.append(size)
    min_partitions = (
        spark.conf.get("spark.sql.files.minPartitionNum", None)
        or spark.conf.get("spark.sql.leafNodeDefaultParallelism", None)
        or spark.sparkContext.defaultParallelism
    )
    parts = packed_partitions(
        sizes, _max_partition_bytes(spark), open_cost_bytes(spark), int(min_partitions)
    )
    return total, parts


def ensure_cpu_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` to ``defaultParallelism`` when its
    leaf scans pack into fewer partitions than that; no-op (and
    metadata-only) otherwise. Apply at the head of CPU-heavy map lineages —
    the one small-input exchange buys every downstream expression
    full-width execution; at real corpus scale the estimate clears the bar
    and the plan is untouched.

    RDD-backed and in-memory lineages (localCheckpoint, createDataFrame)
    stay a no-op: a blind repartition would tax large in-memory relations,
    so engine checkpoints are written at a deliberate width instead (the
    producer repartitions BEFORE checkpointing when downstream map work is
    CPU-bound)."""
    spark = df.sparkSession
    slots = spark.sparkContext.defaultParallelism
    # past slots full splits every slot gets at least one partition
    est = scan_estimate(df, limit=slots * _max_partition_bytes(spark))
    if est is None or est[1] >= slots:
        return df
    return df.repartition(slots)
