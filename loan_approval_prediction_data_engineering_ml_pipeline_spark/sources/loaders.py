"""Readers and writers.

Reference surface covered here (SURVEY.md §2.1):
- S1 JSON-lines scan  (MY.ipynb:24-28 cell 1)   → read_jsonlines
- S2 SQL table scan   (LP.ipynb:51-55 cell 2)   → load_table / load_tables
- S4/S5 DDL           (MY.ipynb:411-504)        → register_views / save_as_table
- S6 batched upsert   (MY.ipynb:513-527 cell 13)→ upsert_parquet /
  upsert_parquet_partitioned (REPLACE INTO semantics = PK-dedupe,
  written once to a staging dir and renamed into place; Spark-native,
  no row loop)
- S9 literal 1-row source (app.py:52-67)        → single_row_frame

Fixture reads go through the read memo (``sources/memo.py``). Every
rewrite of a plain parquet store, here and in ``operators/maintenance``,
is written once to ``path__staging`` and committed by :func:`_swap_in`
(the whole store or a set of partition dirs); the writer's next call
recovers from a crash mid-swap, so no write loses or mixes a partition.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from ..functions.parallel import open_cost_bytes, scan_estimate
from .memo import memo
from .schemas import TABLE_SCHEMAS


def _fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Hadoop Path) for ``path`` — works for any
    supported filesystem, not just file://."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _subdirs(spark: SparkSession, path: str) -> list[str]:
    fs, jpath = _fs(spark, path)
    return [st.getPath().getName() for st in fs.listStatus(jpath) if st.isDirectory()]


def _delete_path(spark: SparkSession, path: str) -> None:
    """Remove a staging directory. Leaving staged copies around doubles
    storage per operation at scale."""
    fs, jpath = _fs(spark, path)
    fs.delete(jpath, True)


def _rename_path(spark: SparkSession, src: str, dst: str) -> None:
    """Hadoop FS rename — the commit step of write-to-staging-then-swap.
    On local/HDFS rename is a metadata operation, so the window where
    neither path exists is as small as the filesystem allows (a crash
    there leaves only the derivable artifact missing, never a partial
    one)."""
    fs, jsrc = _fs(spark, src)
    if not fs.rename(jsrc, spark._jvm.org.apache.hadoop.fs.Path(dst)):
        raise IOError(f"rename {src} -> {dst} failed")


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Explicit Hadoop FS existence probe. Merge/upsert operators use
    this to distinguish 'store not initialized yet' from read FAILURES
    (corrupt footer, transient FS error, permissions) — treating any
    read exception as 'empty' would let a transient error silently
    replace the full store with just the incoming batch (ADVICE r3)."""
    fs, jpath = _fs(spark, path)
    return bool(fs.exists(jpath))


def load_table(spark: SparkSession, sf_dir: str, name: str, *, validate: bool = True) -> DataFrame:
    """Read one fixture table from parquet.

    Parquet carries its own schema (no inference drift possible), so we
    *validate* against the declared StructType instead of overriding —
    catching silent upstream changes, which is the failure mode the
    reference hit with pandas dtype inference (SURVEY.md §1.3). The
    analyzed handle goes through the read memo (``sources/memo.py``):
    re-reading re-lists the file and its footer on every query, and
    ``validate`` is part of the key so an unvalidated read never
    short-circuits a later schema-drift check.

    A table whose files total at most ``spark.sql.files.openCostInBytes``
    (Spark's own price, in scanned bytes, of opening one file; 4 MB by
    default) is read as ONE partition: ``coalesce(1)`` decides from
    metadata and runs no job, and its ``SinglePartition`` output satisfies
    every clustered and ordered distribution, so the aggregates, windows,
    joins and global sorts above the scan plan no ``Exchange`` and a
    global sort runs no range-sampling job (which would run its whole
    child a second time). The size comes from
    ``functions.parallel.scan_estimate``; on a non-local filesystem the
    read is left as it is. At sf0.1 every star and corpus table but
    lineitem qualifies; at real scale only dimension tables do, so large
    inputs keep their partitioned plans. The threshold is part of the
    memo key, so a caller that scopes the conf gets a handle decided
    under it.
    """
    # The driver calls queries() with its own SparkSession; pin UTC so
    # timestamp semantics match the DuckDB oracle regardless of host tz.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    rel = f"{name}.parquet"
    open_cost = open_cost_bytes(spark)
    return memo(
        spark, sf_dir, [rel], ("load_table", validate, open_cost),
        lambda: _read_table(spark, os.path.join(sf_dir, rel), name, validate, open_cost),
    )


def _read_table(
    spark: SparkSession, file: str, name: str, validate: bool, open_cost: int
) -> DataFrame:
    if name == "events":
        # events.parquet has shipped as both TIMESTAMP(NANOS) — which
        # Spark's vectorized reader rejects outright — and TIMESTAMP(MICROS).
        # Handle either: nanosAsLong surfaces a nanos column as raw INT64,
        # which we truncate to micros (the same ns→us truncation DuckDB
        # applies); a micros column arrives as a timestamp already and only
        # needs the NTZ cast (session tz is pinned UTC).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(file)
        if isinstance(df.schema["ts"].dataType, T.LongType):
            ts_col = F.timestamp_micros(F.expr("ts DIV 1000"))
        else:
            ts_col = F.col("ts")
        df = df.withColumn("ts", ts_col.cast("timestamp_ntz")).select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
    else:
        df = spark.read.parquet(file)
    if validate and name in TABLE_SCHEMAS:
        expected = {f.name: f.dataType for f in TABLE_SCHEMAS[name].fields}
        actual = {f.name: f.dataType for f in df.schema.fields}
        if expected != actual:
            raise ValueError(
                f"schema drift in {name}: expected {expected}, got {actual}"
            )
    return df if scan_estimate(df, limit=open_cost) is None else df.coalesce(1)


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLE_SCHEMAS)}


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Expose fixture tables to spark.sql() — the engine's 'CREATE DATABASE /
    USE' analog (MY.ipynb:411-414 cell 9) without a persistent metastore."""
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)


def read_jsonlines(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """S1: NDJSON scan with a declared schema (no inference).

    The reference infers (pd.read_json(lines=True), MY.ipynb:24-28); we
    pass the StructType so types are stable and the reader can prune
    columns at scan time.
    """
    return spark.read.schema(schema).json(path)


def _swap_in(spark: SparkSession, staged: str, path: str, parts: list[str] | None = None) -> None:
    """Commit a fully written ``staged`` dir to ``path`` by renames, the one
    commit path for rewrites of a plain parquet store. The whole store
    (``parts`` None, or no ``path`` yet): ``path`` → ``path__old``,
    ``staged`` → ``path``, then ``path__old`` is retired onto the staging
    name. A set of partition dirs: each dir named in ``parts`` or held by
    ``staged`` is parked as ``path__old/col=v`` and replaced by
    ``staged/col=v``; one with no staged dir is dropped, and untouched
    partitions are never renamed; ``path__old`` is then retired into the
    staging dir, which stays in place until then, so ``path__old`` beside
    ``staged`` marks an unfinished partition swap. Retired copies are
    deleted with the staging dir, which every recovery drops, so a crash
    mid-delete never brings half a partition back.

    Crash contract, once :func:`_recover_swap` has run: each touched
    partition (or the whole store) is wholly old or wholly new, never
    missing or mixed, and re-running the interrupted call converges
    because every writer that commits here is idempotent. (Spark's
    dynamic partition overwrite is not atomic across partitions either.)"""
    old = path + "__old"
    if parts is None or not _path_exists(spark, path):
        if _path_exists(spark, path):
            _rename_path(spark, path, old)
        _rename_path(spark, staged, path)
        if _path_exists(spark, old):
            _rename_path(spark, old, staged)
    else:
        fs, jold = _fs(spark, old)
        fs.mkdirs(jold)
        for d in sorted(set(parts) | set(_subdirs(spark, staged))):
            if _path_exists(spark, f"{path}/{d}"):
                _rename_path(spark, f"{path}/{d}", f"{old}/{d}")
            if _path_exists(spark, f"{staged}/{d}"):
                _rename_path(spark, f"{staged}/{d}", f"{path}/{d}")
        _rename_path(spark, old, f"{staged}/__old")
    _delete_path(spark, staged)


def _recover_swap(spark: SparkSession, staged: str, path: str) -> None:
    """Undo what an interrupted :func:`_swap_in` left behind. A copy
    parked in ``path__old`` goes back where nothing replaced it: the
    whole store when ``path`` is missing (the crash fell between the two
    whole-store renames), else — while ``staged`` still exists, i.e. a
    partition swap was cut short — each partition dir missing from
    ``path``. Otherwise the new store is whole and the old copy is
    dropped, as is the staging dir: its batch was never committed, or it
    holds retired copies."""
    old = path + "__old"
    if _path_exists(spark, old):
        if not _path_exists(spark, path):
            _rename_path(spark, old, path)
        elif _path_exists(spark, staged):
            for d in _subdirs(spark, old):
                if not _path_exists(spark, f"{path}/{d}"):
                    _rename_path(spark, f"{old}/{d}", f"{path}/{d}")
    _delete_path(spark, old)
    _delete_path(spark, staged)


def _newest_wins(
    incoming: DataFrame,
    existing: DataFrame | None,
    key_cols: list[str],
    order_col: str | None = None,
) -> DataFrame:
    """REPLACE INTO's merge: one row per key from ``incoming`` ∪
    ``existing``, the highest ``order_col`` first and the incoming row on
    a tie. The source tag (incoming=0 < existing=1) is the ultimate
    tie-break, so even with order_col=None the winner is deterministic —
    dropDuplicates on the union would keep a partition-order-dependent
    row and could silently let the existing row survive."""
    merged = incoming.withColumn("__src", F.lit(0))
    if existing is not None:
        merged = merged.unionByName(existing.withColumn("__src", F.lit(1)), allowMissingColumns=False)
    ordering = [F.col("__src").asc()]
    if order_col:
        ordering.insert(0, F.col(order_col).desc())
    w = W.partitionBy(*key_cols).orderBy(*ordering)
    return (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )


def upsert_parquet(
    df: DataFrame,
    path: str,
    key_cols: list[str],
    *,
    order_col: str | None = None,
) -> None:
    """S6: idempotent PK upsert — Spark-native `REPLACE INTO` semantics.

    The reference hand-rolls this with a NaN scrub + row loop +
    `REPLACE INTO ... executemany` (MY.ipynb:513-527). Here: union the
    incoming batch with the existing store, keep one row per key
    (:func:`_newest_wins`), write the result ONCE to ``path__staging``
    and swap it into place (:func:`_swap_in`). Parquet can't overwrite a
    path it is reading, and the swap means a crash never loses the
    store: the next call first recovers the leftovers
    (:func:`_recover_swap`). The store stays a plain parquet directory.
    Distributed, no driver loop; NaN→NULL scrubbing is unnecessary
    because Spark has single null semantics (SURVEY.md §2.6 F6).

    At 100 TB use :func:`upsert_parquet_partitioned`, which rewrites
    only the touched partitions; this one rewrites the whole store.
    """
    spark = df.sparkSession
    path = path.rstrip("/")
    staged = path + "__staging"
    _recover_swap(spark, staged, path)
    # only a missing path means "no store yet": any read failure on an
    # existing store must surface, not be overwritten with the batch
    existing = spark.read.parquet(path) if _path_exists(spark, path) else None
    _newest_wins(df, existing, key_cols, order_col).write.mode("overwrite").parquet(staged)
    _swap_in(spark, staged, path)


# Hive/Spark partition-path escaping, ported to Python (charset from
# Spark's ExternalCatalogUtils.charToEscape — a fixed set: ASCII control
# chars 0x01-0x1F, 0x7F, and  " # % ' * / : = ? \ { [ ] ^ ). A Python
# port instead of a spark._jvm call: the Py4J internal API is
# version-fragile and absent under Spark Connect. Parity with the JVM
# implementation is asserted in tests/test_sources.py.
_HIVE_PATH_ESCAPE_CHARS = frozenset(
    [chr(c) for c in range(0x01, 0x20)]
    + ["\x7f", '"', "#", "%", "'", "*", "/", ":", "=", "?", "\\", "{", "[", "]", "^"]
)


def escape_hive_path_name(s: str) -> str:
    """Escape a partition column name or value exactly the way Spark
    writes partition directories (e.g. ``web crawl`` → ``web%20crawl``);
    a hand-built f-string path would miss these and a purge of the
    partition would silently no-op."""
    return "".join(f"%{ord(c):02X}" if c in _HIVE_PATH_ESCAPE_CHARS else c for c in s)


def unescape_hive_path_name(s: str) -> str:
    """Inverse of :func:`escape_hive_path_name`: decode ``%XX`` escapes a
    partition directory name carries back to the raw value. Needed
    wherever directory names are compared against raw values (TTL
    cutoffs): escaped forms don't sort like the values they encode
    (``:`` → ``%3A`` sorts before every digit)."""
    out, i = [], 0
    while i < len(s):
        if s[i] == "%" and i + 3 <= len(s):
            try:
                out.append(chr(int(s[i + 1 : i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(s[i])
        i += 1
    return "".join(out)


def partition_dir_name(partition_col: str, v) -> str:
    """The directory name Spark writes for one partition value —
    ``col=value`` with hive escaping, the default-partition sentinel for
    NULL/empty, and Java's lowercase boolean rendering. One shared
    mapping so orphan detection and removed-partition purge can't drift.
    Floats are formatted by str(); float partition columns (which Java
    renders differently in exponent form) are not supported here."""
    col = escape_hive_path_name(partition_col)
    if v is None or v == "":
        return f"{col}=__HIVE_DEFAULT_PARTITION__"
    if isinstance(v, bool):
        return f"{col}={'true' if v else 'false'}"
    return f"{col}={escape_hive_path_name(str(v))}"


def _touched_partition_predicate(partition_col: str, values: list):
    """Null-safe membership predicate: isin() never matches NULL (SQL
    three-valued logic), so a value list carrying None needs an explicit
    isNull disjunct — otherwise existing __HIVE_DEFAULT_PARTITION__ rows
    silently drop out of the merge/purge."""
    non_null = [v for v in values if v is not None]
    pred = F.col(partition_col).isin(non_null) if non_null else F.lit(False)
    if any(v is None for v in values):
        pred = pred | F.col(partition_col).isNull()
    return pred


def upsert_parquet_partitioned(
    df: DataFrame,
    path: str,
    key_cols: list[str],
    partition_col: str,
    *,
    order_col: str | None = None,
    sort_within: list[str] | None = None,
) -> None:
    """S6 at scale: partition-granular REPLACE INTO over a hive-partitioned
    parquet store — only the partitions present in the incoming batch are
    read, merged, and rewritten; cold partitions are never touched (their
    files stay byte-identical — asserted in tests). The merged touched
    partitions are written once to ``path__staging`` and committed by a
    partition swap (:func:`_swap_in`); the next call recovers a crash
    mid-swap, leaving each touched partition wholly old or wholly new.

    This is the 100 TB shape of ``upsert_parquet``: a daily ingest into a
    day-partitioned store rewrites O(days touched), not O(store). The
    touched-partition list is a driver collect bounded by the number of
    partitions in the batch (typically a handful), never by row count.

    Requirement: ``partition_col`` must be a stable function of the key
    (a row never migrates partitions between versions). If a key can move
    partitions, its old version would survive in the old partition — use
    ``upsert_parquet`` (full rewrite) or delete-by-key first.

    ``sort_within`` re-clusters each rewritten partition by the given
    columns before the write — stores whose probes rely on row-group
    min/max pruning (the BM25 posting layout sorts by ``tok``) keep that
    clustering across repeated upserts instead of degrading (ADVICE r9).
    """
    spark = df.sparkSession
    path = path.rstrip("/")
    staged = path + "__staging"
    _recover_swap(spark, staged, path)
    touched = [r[0] for r in df.select(partition_col).distinct().collect()]
    existing = None
    if _path_exists(spark, path):
        # partition pruning: only the touched partitions are scanned.
        # The explicit schema pins the partition column to the incoming
        # type — no inference, so values compare like with like.
        existing = spark.read.schema(df.schema).parquet(path).filter(
            _touched_partition_predicate(partition_col, touched)
        )
    deduped = _newest_wins(df, existing, key_cols, order_col)
    if sort_within:
        # the partition column LEADS the sort: the parquet writer's
        # required ordering is (partition cols first), and when the
        # incoming ordering doesn't satisfy it the FileFormatWriter
        # inserts its own NON-STABLE sort by the partition column —
        # scrambling sort_within whenever one task carries rows of two
        # or more partition dirs (only surfaced when partitions
        # hash-collide into a task; prefixing makes it impossible)
        deduped = deduped.repartition(F.col(partition_col)).sortWithinPartitions(
            partition_col, *sort_within
        )
    deduped.write.mode("overwrite").partitionBy(partition_col).parquet(staged)
    _swap_in(spark, staged, path, [partition_dir_name(partition_col, v) for v in touched])


def delete_keys_partitioned(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    key_cols: list[str],
    partition_col: str,
) -> int:
    """Targeted row deletion from a hive-partitioned parquet store (the
    right-to-be-forgotten / retention-purge shape): only partitions that
    actually contain a requested key are read, anti-joined, and
    rewritten — cold partitions keep byte-identical files. The surviving
    rows of the touched partitions are written once to ``path__staging``
    and committed by a partition swap (:func:`_swap_in`), which also
    drops a touched partition left with no rows.

    ``keys`` carries the key columns (extra columns ignored). The
    touched-partition discovery is a full probe of the store UNLESS the
    key set includes ``partition_col`` (then the semi-join prunes) — so
    for pure-id delete requests, pre-join the requests to a
    (key → partition) index, or accept one probing scan per purge cycle.
    Returns the number of rows deleted.

    At 100 TB: the rewrite cost is O(partitions containing the keys),
    not O(store); run it batched (accumulate delete requests, purge
    daily) so each partition is rewritten once per cycle, not once per
    request.
    """
    path = path.rstrip("/")
    staged = path + "__staging"
    _recover_swap(spark, staged, path)
    key_set = keys.select(*key_cols).distinct()
    # eqNullSafe, not name-equality: a delete request with a NULL key
    # column must still match its rows (NULL = x is NULL under
    # three-valued logic, so a plain equi-join would silently keep them)
    # partition-type inference is the silent killer here: a string
    # partition dir day=007 inferred as int 7 would make the rewrite
    # land under day=7 and leave the "deleted" rows alive under day=007.
    # Read with inference off so partition values stay strings and
    # round-trip to the exact same directory names; data columns keep
    # their parquet types either way.
    inference_conf = "spark.sql.sources.partitionColumnTypeInference.enabled"
    saved_inference = spark.conf.get(inference_conf, None)
    spark.conf.set(inference_conf, "false")
    try:
        # schema (incl. the now-string partition column) is resolved at
        # read time, so the conf only needs to cover this call
        store = spark.read.parquet(path)
    finally:
        if saved_inference is None:
            spark.conf.unset(inference_conf)
        else:
            spark.conf.set(inference_conf, saved_inference)
    import functools

    key_match = functools.reduce(
        lambda a, b: a & b, [store[c].eqNullSafe(key_set[c]) for c in key_cols]
    )
    touched = [
        r[0]
        for r in store.join(F.broadcast(key_set), key_match, "left_semi")
        .select(partition_col)
        .distinct()
        .collect()
    ]
    if not touched:
        return 0
    affected = store.filter(_touched_partition_predicate(partition_col, touched))
    kept = affected.join(F.broadcast(key_set), key_match, "left_anti")
    n_affected = affected.count()
    kept.write.mode("overwrite").partitionBy(partition_col).parquet(staged)
    # count survivors from the (small) staged copy — not by re-running
    # the anti-join against the store a second time
    n_deleted = n_affected - spark.read.schema(kept.schema).parquet(staged).count()
    # a partition whose every row was deleted has no dir in staging, so
    # the swap drops it
    _swap_in(spark, staged, path, [partition_dir_name(partition_col, v) for v in touched])
    return n_deleted


def save_as_table(spark: SparkSession, df: DataFrame, name: str, path: str) -> None:
    """S5 analog: persist + register. Parquet-backed, schema from the frame."""
    df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView(name)


def save_bucketed_table(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    n_buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
) -> DataFrame:
    """Persist ``df`` as a bucketed (and per-bucket sorted) managed table.

    Bucketing pays the shuffle ONCE at write time: rows are hash-placed
    into ``n_buckets`` files by ``bucket_cols``, so every later equi-join
    or aggregation on those keys between same-bucketed tables runs with
    NO Exchange — the 100 TB pattern for fact-to-fact joins that are too
    big to broadcast and too frequent to re-shuffle per query
    (``tests/test_scale_patterns.py`` asserts the Exchange-free plan).
    """
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*(sort_cols or bucket_cols))
    )
    writer.saveAsTable(name)
    return spark.table(name)


def read_csv(spark: SparkSession, path: str, schema: T.StructType, *, header: bool = True) -> DataFrame:
    """CSV scan with a declared schema — never inferSchema (which triggers
    an extra full pass over the data and re-introduces the reference's
    dtype-drift problem)."""
    return spark.read.schema(schema).option("header", str(header).lower()).csv(path)


def write_orc(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    """ORC sink — the columnar interchange format for Hive-side
    consumers. Same pushdown/pruning properties as parquet in Spark's
    reader; zlib by default."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """ORC scan; pass a declared schema to validate-by-position rather
    than trusting file metadata (same discipline as load_table)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def compact_parquet(spark: SparkSession, path: str, *, target_files: int | None = None, target_rows_per_file: int = 1_000_000) -> None:
    """Small-files compaction: rewrite a parquet dataset into ~target_files
    outputs via coalesce (no shuffle). Streaming sinks and over-parallel
    writers fragment tables; scan cost at 100 TB is dominated by file
    count as much as bytes. Written once to ``path__staging`` and swapped
    in like upsert_parquet."""
    path = path.rstrip("/")
    staged = path + "__staging"
    _recover_swap(spark, staged, path)
    df = spark.read.parquet(path)
    if target_files is None:
        n_rows = df.count()
        target_files = max(1, (n_rows + target_rows_per_file - 1) // target_rows_per_file)
    df.coalesce(target_files).write.mode("overwrite").parquet(staged)
    _swap_in(spark, staged, path)


def write_partitioned_by_day(df: DataFrame, path: str, ts_col: str = "ts") -> None:
    """Partition an event-time table by day (TESTDATA events analog).

    At 100 TB this is the difference between scanning the corpus and
    scanning a date range: queries filtering on ``dt`` prune partitions
    at planning time (PartitionFilters in the scan node). Hive-style
    layout, one directory per day."""
    df.withColumn("dt", F.date_format(F.col(ts_col), "yyyy-MM-dd")).write.mode(
        "overwrite"
    ).partitionBy("dt").parquet(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
):
    """S2: JDBC table scan (the reference's pd.read_sql, LP.ipynb:51-55).

    When ``partition_column`` is given the scan parallelizes into
    ``num_partitions`` range-bounded queries — the distributed analog of
    the reference's single-cursor extract. Filters and projections push
    down to the database (Spark emits WHERE/SELECT accordingly).

    Requires a JDBC driver jar on the classpath. Spark bundles Derby
    (for the Hive metastore), whose embedded driver
    (``org.apache.derby.jdbc.EmbeddedDriver``) powers the real
    write→read round-trip test (``test_jdbc_round_trip_derby``);
    external databases (MySQL/Postgres) need their own driver jar."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound if lower_bound is not None else 0))
            .option("upperBound", str(upper_bound if upper_bound is not None else 1 << 31))
        )
    return reader


def write_jdbc(df: DataFrame, url: str, table: str, *, mode: str = "append", properties: dict[str, str] | None = None) -> None:
    """S6 (JDBC flavor): batched inserts executor-side — the distributed
    REPLACE INTO analog; true upserts need database-side MERGE or the
    parquet upsert path above."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table).mode(mode)
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


_TABLE_ABSENT_SQLSTATES = {
    "42X05",  # Derby: table/view does not exist
    "42S02",  # MySQL / ODBC: base table not found
    "42P01",  # Postgres: undefined_table
    "S0002",  # ODBC legacy: base table not found
}


def _jdbc_table_absent(spark: SparkSession, url: str, table: str, properties, exc) -> bool:
    """Classify a JDBC read failure: True only when the target table is
    genuinely absent. First walks the Java cause chain for a
    java.sql.SQLException SQLSTATE (dialect-stable, unlike message
    text); if no SQLSTATE is found, probes DatabaseMetaData.getTables
    over the identifier's case variants (Derby stores unquoted names
    uppercase). Unclassifiable failures return False so the caller
    re-raises the original error instead of overwriting data."""
    je = getattr(exc, "java_exception", None) or getattr(exc, "_origin", None)
    while je is not None:
        try:
            state = je.getSQLState()
        except Exception:
            state = None
        if state is not None:
            return str(state) in _TABLE_ABSENT_SQLSTATES
        try:
            je = je.getCause()
        except Exception:
            break
    try:
        jprops = spark._jvm.java.util.Properties()
        for k, v in (properties or {}).items():
            jprops.setProperty(k, v)
        conn = spark._jvm.java.sql.DriverManager.getConnection(url, jprops)
        try:
            md = conn.getMetaData()
            # getTables' patterns are LIKE search strings: split a
            # schema-qualified identifier into (schemaPattern,
            # tableNamePattern) — passing 'app.loans' whole never matches —
            # and escape '_'/'%' with the driver's search-string escape so
            # 'loan_status' can't match 'loanXstatus' (ADVICE r4).
            esc = md.getSearchStringEscape() or "\\"

            def _like_escape(ident: str) -> str:
                return (
                    ident.replace(esc, esc + esc)
                    .replace("_", esc + "_")
                    .replace("%", esc + "%")
                )

            schema, _, bare = table.rpartition(".")
            schema = schema or None
            for cand in dict.fromkeys((bare, bare.upper(), bare.lower())):
                spat = None
                if schema is not None:
                    spat = _like_escape(
                        schema.upper() if cand == bare.upper()
                        else schema.lower() if cand == bare.lower()
                        else schema
                    )
                if md.getTables(None, spat, _like_escape(cand), None).next():
                    return False  # table exists: original failure was transient
            return True
        finally:
            conn.close()
    except Exception:
        return False  # cannot classify -> propagate the original error


def replace_into_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    incoming: DataFrame,
    key_cols: list[str],
    *,
    properties: dict[str, str] | None = None,
) -> None:
    """MySQL ``REPLACE INTO`` emulation for dialects without it (the
    reference's DDL is MySQL and its loader relies on REPLACE INTO's
    delete+insert-on-PK-conflict, MY.ipynb:434-504; Derby and most ANSI
    dialects have no equivalent reachable through JDBC batch inserts).

    Snapshot-merge-overwrite: read the current table, keep the incoming
    row wherever keys collide, overwrite. ``incoming`` must be unique on
    ``key_cols`` (REPLACE INTO's own statement-order tie-break has no
    deterministic distributed analog). The merged frame is
    localCheckpoint'ed BEFORE the overwrite — the JDBC overwrite drops
    the very table the plan reads, so lineage must be cut first.

    This is the dialect-compat shim: at scale prefer database-side MERGE
    (where the dialect has one) or the partitioned parquet upsert above."""
    try:
        current = read_jdbc(spark, url, table, properties=properties).load()
    except Exception as exc:
        # ONLY a missing target table means "create from incoming" —
        # REPLACE INTO's first-load shape. Any other read failure
        # (connection drop, permissions, corrupt table) must propagate:
        # swallowing it would overwrite the whole table with just the
        # incoming batch (ADVICE r3). Classified by SQLSTATE from the
        # wrapped java.sql.SQLException (message-substring matching both
        # misses dialects and misfires on e.g. a schema-level "does not
        # exist"), with a DatabaseMetaData existence probe as fallback.
        if not _jdbc_table_absent(spark, url, table, properties, exc):
            raise
        current = None
    if current is None:
        merged = incoming.localCheckpoint(eager=True)
        # first load: table absent → create it (forwarding properties so
        # createTableColumnTypes DDL reaches the CREATE TABLE)
        write_jdbc(merged, url, table, mode="overwrite", properties=properties)
        return
    merged = _newest_wins(incoming.select(*current.columns), current, key_cols)
    merged = merged.localCheckpoint(eager=True)
    # truncate=true: DELETE-then-INSERT into the EXISTING table instead of
    # DROP+CREATE-with-default-types — real REPLACE INTO preserves the
    # target's DDL (VARCHAR widths, keys), so must we (ADVICE r3)
    write_jdbc(
        merged,
        url,
        table,
        mode="overwrite",
        properties={**(properties or {}), "truncate": "true"},
    )


def single_row_frame(spark: SparkSession, row: dict, schema: T.StructType) -> DataFrame:
    """S9: 1-row DataFrame from a dict (the app.py:52-67 inference record)."""
    return spark.createDataFrame([row], schema=schema)


def read_evolved_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution read for a partitioned store whose later
    partitions gained columns: ``mergeSchema`` unions all part-file
    footers, so old partitions surface NULL for columns they predate
    instead of failing or silently dropping them. Spark's default reads
    ONE footer — whether the new column appears then depends on which
    file is sampled: nondeterministic schema, the classic data-lake
    trap. Cost: one footer read per file at planning (fine for
    maintenance-sized stores; at 100 TB prefer a declared read schema —
    ``spark.read.schema(...)`` — which is free and explicit; this
    helper is the discovery-time tool)."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def expire_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str,
    *,
    keep_from: str,
    drop_null_partition: bool = False,
) -> list:
    """Retention/TTL enforcement: drop every partition whose RAW value
    sorts below ``keep_from`` (directory names are hive-unescaped before
    comparing — escaped forms like ``%3A`` for ``:`` don't sort like the
    values they encode; lexicographic on raw values is correct for ISO
    dates and zero-padded keys). The NULL partition
    (``__HIVE_DEFAULT_PARTITION__``) has no orderable value, so it is
    retained unless ``drop_null_partition=True`` opts in. Pure
    directory-level deletes — no data is scanned or rewritten, surviving
    partition files stay byte-identical — so expiring a year of a 100 TB
    day-partitioned store is O(days dropped) metadata operations.
    Returns the dropped partition values (raw form; None for the NULL
    partition)."""
    prefix = f"{escape_hive_path_name(partition_col)}="
    dropped = []
    for name in _subdirs(spark, path):
        if not name.startswith(prefix):
            continue
        dir_value = name[len(prefix):]
        if dir_value == "__HIVE_DEFAULT_PARTITION__":
            if not drop_null_partition:
                continue
            raw = None
        else:
            raw = unescape_hive_path_name(dir_value)
            if raw >= keep_from:
                continue
        _delete_path(spark, path.rstrip("/") + "/" + name)
        dropped.append(raw)
    return sorted(dropped, key=lambda v: (v is not None, v or ""))
