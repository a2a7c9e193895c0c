"""Scan-parallelism helper for CPU-bound map pipelines.

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

The decision is METADATA-ONLY. The previous implementation probed
``df.rdd.getNumPartitions()``, which under AQE *executes every upstream
query stage* to learn the final partitioning — measured 3-7.5 s of thrown
away work per call on a windowed lineage at sf0.1, and at production scale
it would run the upstream shuffles twice. Here we estimate the scan's task
count from the leaf files' sizes (driver-side file-index metadata, no job):
each file is charged ``size + openCostInBytes`` and the estimate is
``ceil(Σ charge / maxPartitionBytes)`` packed partitions, so many tiny
files count as few tasks, as Spark's split packing makes them. A scan
whose charges reach ``defaultParallelism × maxPartitionBytes`` is left
alone without finishing the sum. The estimate uses ``maxPartitionBytes``
as the split size: Spark's own ``maxSplitBytes`` also shrinks toward
``Σ charge / defaultParallelism`` on small inputs, which this omits, so a
many-tiny-file scan Spark already spreads can still be repartitioned. A
shortfall against ``defaultParallelism`` is the "this map will underuse
the cluster" signal.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


_BYTE_SUFFIX = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _byte_conf(value: str, default: int = 134217728) -> int:
    """Parse a Spark byte-size conf value ("134217728", "128m", "1g")."""
    v = value.strip().lower().removesuffix("b")
    try:
        if v and v[-1] in _BYTE_SUFFIX:
            return int(v[:-1]) * _BYTE_SUFFIX[v[-1]]
        return int(v)
    except ValueError:
        return default


def _local_path(uri: str) -> str:
    if uri.startswith("file:"):
        path = uri[5:]
        while path.startswith("//"):
            path = path[1:]
        return path
    return uri


def ensure_cpu_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` to ``defaultParallelism`` when its
    leaf scans cannot feed that many tasks; no-op (and metadata-only)
    otherwise. Apply at the head of CPU-heavy map lineages — the one
    small-input exchange buys every downstream expression full-width
    execution; at real corpus scale the estimate clears the bar and the
    plan is untouched."""
    sc = df.sparkSession.sparkContext
    slots = sc.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files:
        # RDD-backed / in-memory lineage (localCheckpoint, createDataFrame):
        # stay a no-op. Probing df.rdd here would execute every AQE stage
        # ABOVE the RDD leaf (a checkpointed relation with a join/window on
        # top re-runs those stages just to report a partition count — the
        # exact failure mode this helper was rewritten to remove), and a
        # blind repartition would tax large in-memory relations. Engine
        # checkpoints are written at a deliberate width instead (the
        # producer repartitions BEFORE checkpointing when downstream map
        # work is CPU-bound).
        return df
    max_split = _byte_conf(
        df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    open_cost = _byte_conf(
        df.sparkSession.conf.get("spark.sql.files.openCostInBytes", "4194304"),
        default=4194304,
    )
    # Mirror Spark's split packing (ADVICE r17): each file is charged
    # size + openCostInBytes and chunks pack into ~maxPartitionBytes
    # partitions, so MANY TINY FILES still coalesce into FEW scan tasks
    # — a raw file-count >= slots early exit would skip the spread in
    # exactly that serial-map case. est = ceil(Σ charge / maxSplit) is
    # the packed-partition count (ceil where the old code floored, so a
    # barely-over-one-split file no longer triggers a repartition).
    charged = 0
    for f in files:
        try:
            charged += os.path.getsize(_local_path(f)) + open_cost
        except OSError:
            # non-local filesystem: stay conservative, leave the plan alone
            return df
        if charged >= slots * max_split:
            return df  # >= one full split per slot — scan feeds the cluster
    est_tasks = -(-charged // max_split)  # ceil
    if est_tasks >= slots:
        return df
    return df.repartition(slots)
