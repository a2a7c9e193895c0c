"""Incremental maintenance of derived stores.

The reference's ETL rebuilds its outputs from scratch each run (full
`executemany` reload, MY.ipynb:513-527); at 100 TB a daily mart refresh
cannot rescan the corpus. These operators maintain derived stores
partition-incrementally:

- :func:`incremental_rollup` — recompute an aggregate store ONLY for
  fact partitions whose content changed since the last refresh, detected
  by a per-partition content fingerprint manifest (order-independent sum
  of row hashes — retry/AQE/partitioning cannot flip it).
- :func:`scd2_merge` — apply a change batch to a type-2
  slowly-changing-dimension store (close changed rows, insert new
  versions, leave untouched keys alone).

Scale notes: refresh cost is O(changed partitions) for the fact scan and
the store rewrite; the fingerprint pass is a map-side hash + one tiny
aggregate per refresh (no shuffle of fact rows — xxhash64 reduces each
row to 8 bytes before the per-partition sum). Cold store partitions keep
byte-identical files (asserted in tests), so downstream consumers see
stable snapshots for unchanged data.

Both write their output once to ``<store>__staging`` and commit it
through the loaders' one commit path (``sources/loaders._swap_in``): the
rollup by a partition swap of the changed partitions, its manifest-less
rebuild, the SCD2 store and the rollup manifest by a whole-store swap.
Each call first recovers a crash left by the previous one, so no crash
loses or mixes a partition.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.loaders import (
    _path_exists,
    _recover_swap,
    _swap_in,
    _touched_partition_predicate,
    partition_dir_name,
)


def _partition_fingerprints(df: DataFrame, partition_col: str) -> DataFrame:
    """Per-partition content fingerprint: (row count, order-independent
    sum of full-row xxhash64). Sum (with 64-bit wraparound) is
    commutative, so the fingerprint is invariant to partitioning, task
    order, and AQE re-planning; any inserted/deleted/modified row moves
    it with probability ~1-2^-64."""
    data_cols = [c for c in df.columns if c != partition_col]
    # decimal sum, not long: ANSI mode makes sum(long) overflow-checked,
    # and a few billion 64-bit hashes WILL overflow; decimal(38) holds
    # sums of ~1e18 rows losslessly and stays order-independent
    return df.groupBy(partition_col).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.xxhash64(*data_cols).cast("decimal(20,0)")).alias("__h"),
    )


def incremental_rollup(
    spark: SparkSession,
    fact: DataFrame,
    store_path: str,
    partition_col: str,
    agg_fn: Callable[[DataFrame], DataFrame],
    *,
    full_rebuild: bool = False,
) -> int:
    """Maintain ``store_path`` = ``agg_fn(fact)``, partitioned by
    ``partition_col``, recomputing ONLY partitions whose fact content
    changed since the last refresh. Returns the number of partitions
    rewritten (0 = store already current).

    ``agg_fn`` maps a fact subset to its aggregate and must retain
    ``partition_col`` (it is applied per changed-partition subset, so it
    must be partition-local — true for any groupBy that includes the
    partition column). Partitions that vanished from the fact are
    deleted from the store. The fingerprint manifest lives next to the
    store (``<store>__manifest``) and is swapped in last, so a crashed
    refresh re-runs (idempotent) rather than losing changes. A refresh
    without a manifest (the first, ``full_rebuild=True``, or after a
    lost manifest) rewrites every partition, so it swaps in the whole
    store, and store partitions the fact no longer has go with the old
    copy.
    """
    store_path = store_path.rstrip("/")
    manifest_path = store_path + "__manifest"
    staged, staged_manifest = store_path + "__staging", manifest_path + "__staging"
    _recover_swap(spark, staged, store_path)
    _recover_swap(spark, staged_manifest, manifest_path)
    fp = _partition_fingerprints(fact, partition_col)

    # existence is checked explicitly: a manifest READ failure (corrupt
    # footer, transient FS error) must propagate, not silently trigger a
    # full 'first refresh' rewrite (ADVICE r3)
    old: DataFrame | None = None
    if not full_rebuild and _path_exists(spark, manifest_path):
        old = spark.read.parquet(manifest_path)

    if old is None:
        changed = [r[0] for r in fp.select(partition_col).collect()]
        sub, parts = fact, None
    else:
        j = fp.alias("new").join(
            old.alias("old"),
            F.col(f"new.{partition_col}").eqNullSafe(F.col(f"old.{partition_col}")),
            "full_outer",
        )
        # changed includes removed partitions: they have no fact rows, so
        # no dir in staging, and the partition swap drops them
        changed = [
            r[0]
            for r in j.where(
                F.col(f"old.{partition_col}").isNull()
                | F.col(f"new.{partition_col}").isNull()
                | (F.col("new.__n") != F.col("old.__n"))
                | ~F.col("new.__h").eqNullSafe(F.col("old.__h"))
            )
            .select(F.coalesce(F.col(f"new.{partition_col}"), F.col(f"old.{partition_col}")))
            .collect()
        ]
        sub = fact.filter(_touched_partition_predicate(partition_col, changed))
        parts = [partition_dir_name(partition_col, v) for v in changed]
    if old is None or changed:
        agg = agg_fn(sub)
        if partition_col not in agg.columns:
            raise ValueError(f"agg_fn must retain partition column {partition_col!r}")
        agg.write.mode("overwrite").partitionBy(partition_col).parquet(staged)
        _swap_in(spark, staged, store_path, parts)
    # manifest last: a refresh that dies before this point simply
    # re-runs; a crash in its swap leaves the old manifest (stale:
    # refresh re-runs) or, after recovery, the new one — never a partial
    # manifest that _path_exists sees but spark.read cannot parse
    fp.coalesce(1).write.mode("overwrite").parquet(staged_manifest)
    _swap_in(spark, staged_manifest, manifest_path)
    return len(changed)


def scd2_merge(
    spark: SparkSession,
    dim_path: str,
    changes: DataFrame,
    key_cols: list[str],
    attr_cols: list[str],
    *,
    eff_col: str = "eff_ts",
) -> None:
    """Apply a change batch to a type-2 slowly-changing-dimension store.

    Store schema: key_cols + attr_cols + (valid_from, valid_to,
    is_current) where open rows have ``valid_to IS NULL``. For each
    change row (key, new attrs, eff_ts): if the key's current attrs
    differ (null-safely), the current row closes at eff_ts and a new
    current row opens; an unseen key inserts; an identical-attr change
    is a no-op. ``changes`` must carry one row per key (pre-dedupe to
    the latest change per key — the tie-break belongs to the caller's
    CDC semantics, same contract as :func:`replace_into_jdbc`).

    The merge is one full-outer-free pass: dim LEFT JOIN changes decides
    close/keep per existing row; changes LEFT ANTI dim-current finds
    inserts. Dimensions are orders of magnitude smaller than facts, so
    both the first load and the merge write the whole store once to
    ``dim_path__staging`` and swap it in (``sources/loaders._swap_in``);
    a crash mid-swap never loses the history (the fact-side analog with
    partition granularity is :func:`incremental_rollup`)."""
    import functools

    dim_path = dim_path.rstrip("/")
    staged = dim_path + "__staging"
    _recover_swap(spark, staged, dim_path)
    ch = changes.select(
        *key_cols, *attr_cols, F.col(eff_col).alias("__eff")
    )

    def opened(rows: DataFrame) -> DataFrame:
        return rows.select(
            *key_cols, *attr_cols,
            F.col("__eff").alias("valid_from"),
            F.lit(None).cast(ch.schema["__eff"].dataType).alias("valid_to"),
            F.lit(True).alias("is_current"),
        )

    # path-missing is the ONLY condition that means 'store is empty';
    # any read failure on an existing store propagates — overwriting on
    # e.g. a transient FS error would destroy the SCD2 history (ADVICE r3)
    if not _path_exists(spark, dim_path):
        opened(ch).write.mode("overwrite").parquet(staged)
        _swap_in(spark, staged, dim_path)
        return
    dim = spark.read.parquet(dim_path)
    ch = ch.withColumn("__matched", F.lit(True))
    key_eq = functools.reduce(
        lambda a, b: a & b, [dim[k].eqNullSafe(ch[k]) for k in key_cols]
    )
    attrs_same = functools.reduce(
        lambda a, b: a & b, [dim[a].eqNullSafe(ch[a]) for a in attr_cols]
    )
    joined = dim.join(ch, key_eq, "left")
    # __matched (never NULL on the change side) marks join hits even for
    # NULL-keyed rows, where "key IS NOT NULL" would lie
    closes = dim["is_current"] & F.coalesce(F.col("__matched"), F.lit(False)) & ~F.coalesce(
        attrs_same, F.lit(False)
    )
    updated_existing = joined.select(
        *[dim[k] for k in key_cols],
        *[dim[a] for a in attr_cols],
        dim["valid_from"],
        F.when(closes, F.col("__eff")).otherwise(dim["valid_to"]).alias("valid_to"),
        F.when(closes, F.lit(False)).otherwise(dim["is_current"]).alias("is_current"),
    )
    cur = dim.where("is_current")
    cur_key_eq = functools.reduce(
        lambda a, b: a & b, [cur[k].eqNullSafe(ch[k]) for k in key_cols]
    )
    # new version rows: keys whose current attrs differ, plus unseen keys
    cur_attrs_same = functools.reduce(
        lambda a, b: a & b, [cur[a].eqNullSafe(ch[a]) for a in attr_cols]
    )
    unchanged_keys = ch.join(cur, cur_key_eq & cur_attrs_same, "left_semi")
    new_rows = opened(ch.exceptAll(unchanged_keys))
    updated_existing.unionByName(new_rows).write.mode("overwrite").parquet(staged)
    _swap_in(spark, staged, dim_path)


def _quantile_bin(col: "F.Column", cuts: list[float], lo: int = 0, hi: int | None = None) -> "F.Column":
    """Binary-search bin lookup as a nested CASE WHEN tree: depth
    log2(len(cuts)+1) comparisons per row, and CASE stays inside
    whole-stage codegen (an F.aggregate fold over the cutoff array would
    run the lambda INTERPRETED per element — measured 70 us/row vs ~1
    us/row for this tree on the 255-cutoff case). ``cuts[i]`` separates
    bin i from bin i+1."""
    if hi is None:
        hi = len(cuts) + 1
    if hi - lo == 1:
        return F.lit(lo)
    mid = (lo + hi) // 2
    return F.when(col < F.lit(float(cuts[mid - 1])), _quantile_bin(col, cuts, lo, mid)).otherwise(
        _quantile_bin(col, cuts, mid, hi)
    )


def interleave_bits(bin_cols: list["F.Column"], bits: int = 8) -> "F.Column":
    """Morton interleave of already-computed bin columns (shift/or chain,
    pure codegen). Pass simple column REFERENCES, not the bin
    expressions: Spark Columns are trees, not DAGs, so an expression
    referenced from each of the ``bits`` extractions is COPIED into all
    of them — a 511-node CASE tree per column ballooned to ~8k codegen
    nodes that the JIT refused to compile (measured 4x slowdown growing
    with method-cache pressure). Materialize bins in their own projection
    first (what :func:`zorder_write` does)."""
    import functools

    if bits * len(bin_cols) > 63:
        raise ValueError(
            f"interleaved key needs {bits * len(bin_cols)} bits; 63 is the"
            " long limit — lower bits or cluster fewer columns"
        )
    parts = []
    for bit in range(bits):
        for j, b in enumerate(bin_cols):
            # long domain: with >=4 columns the target bit position
            # passes 31, where int shiftleft hits the sign bit (and JVM
            # shifts mask mod 32 beyond it) — the key would stop being a
            # bijective interleave
            parts.append(
                F.shiftleft(
                    F.shiftright(b.cast("long"), bit).bitwiseAND(F.lit(1)),
                    bit * len(bin_cols) + j,
                )
            )
    return functools.reduce(lambda a, b: a.bitwiseOR(b), parts)


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    *,
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Multi-dimensional clustering (z-order) write: lay the table out so
    parquet row-group min/max stats are NARROW on every clustered column
    at once — a point/range filter on ANY of ``cols`` then skips most row
    groups at scan time (predicate pushdown reads the stats, not the
    data). A plain sort clusters only its leading column; interleaving
    the quantile-bin bits gives locality on all dimensions (Morton
    order — the same layout Delta OSS OPTIMIZE ZORDER BY produces via
    range-partition-id interleave).

    Cost at 100 TB: one approxQuantile planning pass (driver gets
    255 doubles per column), one range-shuffle on the z-key, sorted
    write. Run it on cold partitions as a maintenance op, like
    ``compact_parquet``.
    """
    zorder_layout(df, cols, n_files=n_files).write.mode(mode).parquet(path)


def zorder_layout(df: DataFrame, cols: list[str], *, n_files: int = 8) -> DataFrame:
    """The clustering half of :func:`zorder_write` as a re-usable frame
    transform: returns ``df`` range-partitioned into ``n_files`` tasks and
    sorted by the Morton-interleaved quantile-bin key, helper columns
    dropped — whatever writes it next (a plain parquet write, a versioned
    OPTIMIZE commit) inherits the clustered layout, one file per task."""
    # one planning job for ALL columns (approxQuantile takes a col list)
    qs = df.stat.approxQuantile(cols, [i / 256.0 for i in range(1, 256)], 0.001)
    cutoffs = dict(zip(cols, qs))
    # two projections: bins once (one CASE tree evaluation per column),
    # then the interleave over plain column refs — see interleave_bits
    binned = df.select(
        "*",
        *[
            _quantile_bin(F.col(c).cast("double"), cutoffs[c]).alias(f"__bin_{j}")
            for j, c in enumerate(cols)
        ],
    )
    zv = interleave_bits([F.col(f"__bin_{j}") for j in range(len(cols))]).alias("__zv")
    return (
        binned.select("*", zv)
        .repartitionByRange(n_files, "__zv")
        .sortWithinPartitions("__zv")
        .drop("__zv", *[f"__bin_{j}" for j in range(len(cols))])
    )
