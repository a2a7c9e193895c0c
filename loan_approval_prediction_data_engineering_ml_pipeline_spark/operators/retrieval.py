"""BM25 ranked retrieval over a document corpus — the lexical
retrieval primitive curation pipelines use for targeted quality
sampling, contamination triage, and RAG-style nearest-text lookup
(Robertson & Zaragoza 2009; the idf form is Lucene's
``ln(1 + (N - df + 0.5)/(df + 0.5))``, non-negative by construction).

Reference parity note: the reference repo (LP.ipynb / MY.ipynb) has no
text-retrieval surface — this belongs to the beyond-reference
training-data operators the brief mandates.

Scale design — what makes this shape hold at 100 TB:

- **Query terms broadcast.** A query workload is kilobytes; corpus
  tokens are filtered against the broadcast term set BEFORE the tf
  aggregation, so the only corpus-sized shuffle carries (doc, term, tf)
  for MATCHED terms only — candidate volume, not corpus volume.
- **Document lengths are map-only.** ``dl = size(tokens)`` is computed
  per row with no explode and no shuffle; the corpus-wide scalars
  (N, avgdl) reduce to one broadcast-able row.
- **idf is O(query terms).** Document frequencies aggregate from the
  already-filtered tf relation and join back as a broadcast.
- **Top-k is one window.** Per-query ranking partitions by query_id;
  scores are rounded before ranking so cross-engine summation order
  cannot flip a boundary rank (ties break on doc_id).

Everything is built-in DataFrame ops — zero Python in the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import text as X
from ..functions.parallel import ensure_cpu_parallelism
from ..sources.memo import memo
from ..sources.versioned import CommitConflict, _join, log_store_for
from .index_commit import (
    bucket_map as _bucket_map,
    commit_index_manifest as _commit_index_manifest,
    index_versions as _index_versions,
    new_object_rel as _new_object_rel,
    read_index_manifest,
    vacuum_index,
)

K1 = 1.2  #: BM25 term-frequency saturation
B = 0.75  #: BM25 length normalization


# Snapshot-atomic index publishes (VERDICT r9 #2): the shared
# manifest-pointer protocol lives in operators/index_commit.py — every
# mutation here writes immutable objects/<id>/ dirs and publishes them
# with one atomic manifest commit; probes resolve the manifest once.
# See that module's docstring for the full guarantees.


class _Bm25Snapshot:
    """One resolved, immutable view of an index: manifest-backed when a
    manifest exists, else the legacy flat layout (read-only compat)."""

    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = path
        self.manifest = read_index_manifest(path)

    def meta_df(self) -> DataFrame:
        rel = self.manifest["meta"] if self.manifest else "meta"
        return self.spark.read.parquet(_join(self.path, rel))

    def meta_row(self):
        """The collected 1-row meta, memoized per meta dir version."""
        rel = self.manifest["meta"] if self.manifest else "meta"
        return memo(self.spark, self.path, [rel], "bm25_meta", lambda: self.meta_df().first())

    def id_type(self) -> str:
        return self.lengths().schema["id"].dataType.simpleString()

    def _read(self, rels: list[str]) -> DataFrame:
        """Index dirs through the read memo: a probe's plan build would
        otherwise re-list the posting/length dirs and re-read footers
        every call."""
        from .similarity import cached_index_parquet

        return cached_index_parquet(self.spark, self.path, rels)

    def postings(self, probe_buckets: list[int] | None, n_buckets: int) -> DataFrame | None:
        """(tok, id, tf) for the given buckets (None = all); returns
        None when no referenced dir matches (no posting can match)."""
        if self.manifest:
            pm = self.manifest["postings"]
            keys = (
                sorted(pm) if probe_buckets is None
                else [str(b) for b in probe_buckets if str(b) in pm]
            )
            if not keys:
                return None
            return self._read([pm[k] for k in keys]).select("tok", "id", "tf")
        df = self._read(["postings"])
        if probe_buckets is not None and len(probe_buckets) < n_buckets:
            df = df.where(F.col("bucket").isin(probe_buckets))
        return df.select("tok", "id", "tf")

    def lengths(self) -> DataFrame:
        if self.manifest:
            lm = self.manifest["lengths"]
            return self._read([lm[k] for k in sorted(lm)]).select("id", "dl")
        return self._read(["lengths"]).select("id", "dl")

    def lengths_for(self, lbs: list[int]) -> DataFrame | None:
        """Partition-pruned (id, dl) for the given id buckets; None when
        no referenced dir matches."""
        if self.manifest:
            lm = self.manifest["lengths"]
            rels = [lm[str(b)] for b in lbs if str(b) in lm]
            if not rels:
                return None
            return self._read(rels).select("id", "dl")
        return (
            self._read(["lengths"])
            .where(F.col("lb").isin(list(lbs)))
            .select("id", "dl")
        )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
    k: int = 10,
    decimals: int = 6,
) -> DataFrame:
    """Top-``k`` documents per query by BM25. ``queries`` is
    ``(query_id, term)`` — one row per query term, small by definition
    (it is broadcast twice: as the token filter and as the scorer).
    Returns ``(query_id, doc_id, score, rank)`` with ``rank`` 1-based
    per query, ties broken by ascending ``doc_id`` on the
    ``decimals``-rounded score (deterministic under any partitioning).
    """
    queries = queries.select(F.col("query_id"), F.col("term"))
    terms = queries.select("term").distinct()

    # NB: no scan spread here (r17): the direct-path map work is plain
    # tokenize+explode feeding a partial-aggregated semi-join — measured
    # NET-NEGATIVE with a round-robin exchange at sf0.1 (+0.45 s floor);
    # the md5-heavy lineages are the ones that profit (see
    # functions/parallel.py)
    ne_tokens = F.filter(X.tokens(text_col), lambda t: t != "")
    dlen = docs.select(
        F.col(id_col).alias("id"), F.size(ne_tokens).alias("dl")
    )
    # corpus scalars as a 1-row broadcast-able relation (never a
    # driver-side collect): N counts every document, avgdl is total
    # non-empty tokens over N
    stats = dlen.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )

    toks = docs.select(
        F.col(id_col).alias("id"), F.explode(ne_tokens).alias("tok")
    )
    tf = (
        toks.join(F.broadcast(terms), toks["tok"] == terms["term"], "left_semi")
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = (
        tf.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(stats.select("n")))
        .select(
            "tok",
            F.log(
                F.lit(1.0)
                + (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
            ).alias("idf"),
        )
    )
    contrib = (
        tf.join(F.broadcast(idf), "tok")
        .join(F.broadcast(queries), F.col("tok") == F.col("term"))
        .join(dlen, "id")
        .crossJoin(F.broadcast(stats.select("avgdl")))
        .select(
            "query_id",
            "id",
            (
                F.col("idf")
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
                )
            ).alias("s"),
        )
    )
    scored = contrib.groupBy("query_id", "id").agg(
        F.round(F.sum("s"), decimals).alias("score")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("id").alias(id_col), "score", "rank")
    )


def bm25_topk_with_relevance(
    docs: DataFrame,
    queries: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
    k: int = 10,
    decimals: int = 6,
) -> tuple[DataFrame, DataFrame]:
    """:func:`bm25_topk` PLUS the all-terms binary relevance set from
    ONE shared token stream (VERDICT r17 #4) — the retrieval-quality
    evaluators used to re-tokenize the corpus once for the ranking's
    dlen, twice for its stats/tf subtrees, and once more for relevance.
    Returns ``(ranking, relevance)`` where ``ranking`` is exactly
    :func:`bm25_topk`'s output and ``relevance`` is exactly the
    all-terms set (a doc is relevant to a query iff it contains EVERY
    one of the query's distinct terms): the matched-term tf relation is
    candidate-volume-sized and materialized ONCE, feeding idf, the
    score contributions, AND the relevance hit counts; per-doc lengths
    (zero-token docs included, so N/avgdl are corpus-exact) materialize
    once as (id, int) rows; the two corpus scalars inline as literals
    (the same (n, avgdl)-as-literals shape the indexed probe uses).
    Net: TWO tokenize passes over the corpus for ranking + relevance
    together, instead of ~6.

    NOTE: EAGER — the tf/length materializations run at build time
    (``localCheckpoint``), so the returned frames are snapshots of the
    input corpus, not recomputable lineages (the dsir_select
    convention, ADVICE r17)."""
    queries = queries.select(F.col("query_id"), F.col("term"))
    terms = queries.select("term").distinct()
    ne_tokens = F.filter(X.tokens(text_col), lambda t: t != "")
    dlen = docs.select(
        F.col(id_col).alias("id"), F.size(ne_tokens).alias("dl")
    ).localCheckpoint(eager=True)
    srow = dlen.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    ).first()
    n_lit = F.lit(int(srow["n"]))
    avgdl_lit = F.lit(float(srow["avgdl"]))
    toks = docs.select(
        F.col(id_col).alias("id"), F.explode(ne_tokens).alias("tok")
    )
    tf = (
        toks.join(F.broadcast(terms), toks["tok"] == terms["term"], "left_semi")
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    idf = (
        tf.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .select(
            "tok",
            F.log(
                F.lit(1.0)
                + (n_lit - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
            ).alias("idf"),
        )
    )
    contrib = (
        tf.join(F.broadcast(idf), "tok")
        .join(F.broadcast(queries), F.col("tok") == F.col("term"))
        .join(dlen, "id")
        .select(
            "query_id",
            "id",
            (
                F.col("idf")
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl_lit)
                )
            ).alias("s"),
        )
    )
    scored = contrib.groupBy("query_id", "id").agg(
        F.round(F.sum("s"), decimals).alias("score")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("id").asc()
    )
    ranking = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("id").alias(id_col), "score", "rank")
    )
    # relevance from the SAME tf relation: per (query, doc) the count
    # of distinct matched terms equals the query's distinct-term count
    # iff the doc contains every term — zero extra corpus passes
    hit = (
        tf.select("id", "tok")
        .join(F.broadcast(queries), F.col("tok") == F.col("term"))
        .groupBy("query_id", "id")
        .agg(F.count_distinct("tok").alias("hit"))
    )
    nt = queries.groupBy("query_id").agg(F.count_distinct("term").alias("nt"))
    relevance = (
        hit.join(F.broadcast(nt), "query_id")
        .where(F.col("hit") == F.col("nt"))
        .select("query_id", F.col("id").alias(id_col))
    )
    return ranking, relevance


def _tok_bucket(tok, n_buckets: int):
    """Deterministic token -> bucket, identical in driver-side Python
    (:func:`_py_tok_bucket`): the shared md5 base hash mod n_buckets."""
    return (X.token_base_hash(tok) % n_buckets).cast("int")


def _py_tok_bucket(t: str, n_buckets: int) -> int:
    import hashlib

    return (int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % X.MINHASH_PRIME) % n_buckets


def _unit_expr(text_col: str, gram: int):
    """The indexing unit stream: non-empty tokens for gram=1, word
    n-grams (duplicates preserved, positional order) for gram>1 — the
    same n-gram event space :func:`bm25_phrase_topk` scores in."""
    if gram == 1:
        return F.filter(X.tokens(text_col), lambda t: t != "")
    return X.word_ngrams(text_col, gram)


def build_bm25_index(
    docs: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_files: int = 8,
    n_buckets: int = 8,
    gram: int = 1,
) -> None:
    """Persist the BM25 posting lists — the build-once/query-forever
    lifecycle the ANN indexes use, for standing query workloads where
    re-tokenizing 100 TB per query batch is the wrong cost model.

    Layout: ``postings/`` holds (tok, id, tf) hive-partitioned by a
    deterministic token ``bucket`` (md5 base hash mod ``n_buckets``) and
    sorted by ``tok`` within each partition — a probe for K terms prunes
    to the K buckets' directories (partition pruning) and pushes ``tok
    IN (...)`` into the scan, reading only row groups whose tok min/max
    admit the probe terms (the text corpus is never touched again). The
    bucket is a stable function of the token, which is what makes
    :func:`upsert_bm25_index` a partition-granular REPLACE — exactly the
    ``ivf_upsert`` cell layout, with tokens in place of centroid cells.
    ``lengths/`` holds (id, dl) hive-partitioned by a stable
    id bucket; ``meta/`` holds the 1-row (n, avgdl, n_buckets,
    n_files, gram).

    ``gram > 1`` indexes word n-grams instead of tokens — the standing
    PHRASE workload (SCALE.md's "n-grams as the posting key"): one
    index per phrase length, probed by
    :func:`bm25_phrase_topk_indexed` with scores identical to the
    direct :func:`bm25_phrase_topk`.

    Publish is SNAPSHOT-ATOMIC (VERDICT r9 #2): all three components
    write into a fresh immutable ``objects/<id>/`` directory, then one
    manifest put-if-absent makes them visible together. Rebuilding at
    an existing path commits the next version; concurrent probes keep
    reading the version they resolved."""
    units = _unit_expr(text_col, gram)
    dlen = docs.select(F.col(id_col).alias("id"), F.size(units).alias("dl"))
    toks = docs.select(F.col(id_col).alias("id"), F.explode(units).alias("tok"))
    tf = toks.groupBy("tok", "id").agg(F.count(F.lit(1)).alias("tf"))
    obj = _new_object_rel()
    (
        tf.withColumn("bucket", _tok_bucket(F.col("tok"), n_buckets))
        .repartition(n_buckets, "bucket")
        # the partition column leads the sort so the writer's required
        # ordering (partition cols first) is satisfied verbatim — the
        # FileFormatWriter otherwise inserts its own NON-STABLE sort by
        # bucket, scrambling (tok, id) whenever a task carries rows of
        # more than one bucket dir
        .sortWithinPartitions("bucket", "tok", "id")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(_join(path, obj, "postings"))
    )
    # lengths is one row PER CORPUS DOCUMENT — at 10^9 docs a
    # coalesce(1) here would funnel ~12 GB through a single writer task
    # and bound probe-side read parallelism to one file's row groups.
    # Hive-partition by a stable id bucket (like postings' token
    # buckets): the build stays parallel, the probe's dlen join scans
    # id-clustered files, and upsert_bm25_index can REPLACE INTO only
    # the touched buckets with per-id replace semantics — re-applying
    # the same delta (a retried ingest step) is a no-op, never a
    # duplicated length row.
    (
        dlen.withColumn("lb", F.pmod(F.xxhash64("id"), F.lit(n_files)).cast("int"))
        .repartition(n_files, "lb")
        .sortWithinPartitions("lb", "id")
        .write.mode("overwrite")
        .partitionBy("lb")
        .parquet(_join(path, obj, "lengths"))
    )
    dlen.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
        F.sum("dl").cast("long").alias("sum_dl"),
        F.lit(n_buckets).alias("n_buckets"),
        F.lit(n_files).alias("n_files"),
        F.lit(gram).alias("gram"),
    ).coalesce(1).write.mode("overwrite").parquet(_join(path, obj, "meta"))
    versions = _index_versions(path)
    _commit_index_manifest(
        path,
        (versions[-1] + 1) if versions else 1,
        {
            "n_buckets": n_buckets,
            "n_files": n_files,
            "gram": gram,
            "meta": f"{obj}/meta",
            "postings": _bucket_map(path, obj, "postings", "bucket"),
            "lengths": _bucket_map(path, obj, "lengths", "lb"),
        },
    )


def upsert_bm25_index(
    spark,
    delta_docs: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    retries: int = 0,
) -> int:
    """Incremental BM25 maintenance (the ``ivf_upsert`` pattern): fold a
    batch of NEW documents into an existing index without re-tokenizing
    the corpus. Only the token buckets the delta's tokens hash to and
    the id buckets its ids hash to are rewritten — cold buckets keep
    their existing IMMUTABLE files, referenced unchanged by the next
    manifest; ``meta`` maintains (n, sum_dl) INCREMENTALLY from the
    delta alone (VERDICT r9 #8): replaced ids' old lengths are read
    from only the touched ``lb`` dirs (manifest-pruned, O(delta
    buckets) not O(corpus)), so
    ``n' = n + |new ids|`` and ``sum_dl' = sum_dl + Σdelta − Σreplaced``.
    Pre-``sum_dl`` indexes fall back to the full lengths re-scan once;
    the rewritten meta then carries ``sum_dl``.
    A probe after the upsert equals a fresh :func:`bm25_topk` over
    the union corpus exactly, because df/idf re-derive from the posting
    sliver at probe time — no global statistic is baked into the files.

    The delta batch must carry each id at most once (the ingest-batch
    contract the per-id REPLACE already assumes); duplicate ids within
    one delta would double-count in the incremental (n, sum_dl).

    Same constraint as ``ivf_upsert``: a RE-INGESTED id whose new text
    drops a token would leave the old (tok, id) posting in a bucket the
    delta does not touch — delete the ids first (or rebuild) if
    documents mutate. New-id appends, the daily-ingest shape, are exact.

    The mutation is SNAPSHOT-ATOMIC (VERDICT r9 #2): touched buckets
    rewrite into a fresh immutable object dir, COLD buckets carry over
    into the next manifest BY REFERENCE (zero copy, zero write), and
    the new (postings, lengths, meta) become visible together via one
    manifest put-if-absent. A probe mid-upsert resolved the previous
    manifest and keeps reading its immutable dirs; a crash before the
    commit leaves the index exactly at the previous version (orphan
    object dirs are reclaimed by :func:`vacuum_bm25_index`). A lost
    manifest race raises :class:`CommitConflict` — nothing is partially
    visible, re-resolve and retry.

    Returns the number of posting buckets touched."""
    snap = _Bm25Snapshot(spark, path)
    if snap.manifest is None:
        raise ValueError(
            f"no index manifest at {path}: this is either an uninitialized "
            "path or a pre-manifest flat index — rebuild with "
            "build_bm25_index to enable snapshot-atomic upserts"
        )
    # memoized per resolved meta dir (a committed version's meta is
    # immutable; the post-upsert manifest resolves a fresh dir) — saves
    # one Spark job per streamed micro-batch (r17)
    meta = snap.meta_row()
    n_buckets = int(meta["n_buckets"])
    n_files = int(meta["n_files"])  # lengths' id-bucket modulus is the build's
    gram = int(meta["gram"]) if "gram" in meta.asDict() else 1
    units = _unit_expr(text_col, gram)
    dlen = delta_docs.select(
        F.col(id_col).alias("id"), F.size(units).alias("dl")
    )
    toks = delta_docs.select(
        F.col(id_col).alias("id"), F.explode(units).alias("tok")
    )
    tf = (
        toks.groupBy("tok", "id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("bucket", _tok_bucket(F.col("tok"), n_buckets))
    )
    # ONE driver job per delta (VERDICT r17 #8): touched token buckets,
    # touched id buckets, and the dup-guard/meta stats all come out of
    # a single aggregation over the delta — the old shape ran three
    # separate jobs (two distinct().collect()s plus the stats .first())
    # per streamed micro-batch. Per-doc distinct token buckets fold as
    # array expressions (same _tok_bucket hash, so the same buckets).
    g = (
        delta_docs.select(
            F.col(id_col).alias("id"),
            F.size(units).alias("dl"),
            F.array_distinct(
                F.transform(units, lambda u: _tok_bucket(u, n_buckets))
            ).alias("__bks"),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_files))
            .cast("int")
            .alias("lb"),
        )
        .agg(
            F.array_distinct(F.flatten(F.collect_list("__bks"))).alias("bks"),
            F.collect_set("lb").alias("lbs"),
            F.count(F.lit(1)).alias("c"),
            F.count_distinct(F.col("id")).alias("d"),
            F.coalesce(F.sum("dl"), F.lit(0)).alias("s"),
        )
        .first()
    )
    touched_buckets = sorted(int(b) for b in (g["bks"] or []))
    touched_lbs = sorted(int(x) for x in (g["lbs"] or []))
    delta_stats = g

    # ADVICE r10 guard: duplicate ids within one delta would merge in
    # the tf aggregation but DOUBLE as length rows and double-count in
    # (n, sum_dl) — reject loudly, the upsert contract is per-id REPLACE.
    if int(delta_stats["c"]) != int(delta_stats["d"]):
        raise ValueError(
            f"delta contains duplicate ids ({int(delta_stats['c'])} rows, "
            f"{int(delta_stats['d'])} distinct) — deduplicate the delta "
            "before upsert_bm25_index; REPLACE semantics are per-id"
        )

    # ADVICE r11 guard, hardened per VERDICT r12 #3: a delta id TYPE
    # that differs from the build's is never safe — xxhash64 buckets by
    # binary representation, so the delta's ids would land in lb dirs a
    # probe of the original type never reads, the per-id REPLACE
    # anti-join would silently match nothing, and the write would leave
    # mixed-schema lengths dirs behind. The old behavior (fall back to
    # full-rescan meta) still wrote those dirs; reject loudly instead.
    built_id_type = snap.lengths().schema["id"].dataType
    delta_id_type = dlen.schema["id"].dataType
    if delta_id_type != built_id_type:
        raise ValueError(
            f"delta id type {delta_id_type.simpleString()} does not match "
            f"the index's built id type {built_id_type.simpleString()} at "
            f"{path} — cast the delta's {id_col!r} to the built type before "
            "upsert_bm25_index (id-bucket hashing and per-id REPLACE are "
            "type-sensitive; a widened id would silently miss its bucket)"
        )

    # incremental meta (VERDICT r9 #8): replaced ids' old lengths read
    # from ONLY the touched lb dirs the manifest references — O(delta
    # buckets), never O(corpus).
    meta_d = meta.asDict()
    old_touched_len = snap.lengths_for(touched_lbs)
    if "sum_dl" in meta_d and meta_d["sum_dl"] is not None:
        if old_touched_len is None:
            rc, rs = 0, 0
        else:
            replaced = (
                old_touched_len.join(dlen.select("id"), "id", "left_semi")
                .agg(
                    F.count(F.lit(1)).alias("c"),
                    F.coalesce(F.sum("dl"), F.lit(0)).alias("s"),
                )
                .first()
            )
            rc, rs = int(replaced["c"]), int(replaced["s"])
        new_n = int(meta_d["n"]) + int(delta_stats["c"]) - rc
        new_sum = int(meta_d["sum_dl"]) + int(delta_stats["s"]) - rs
        meta_rows = [(new_n, new_sum / new_n if new_n else 0.0, new_sum)]
    else:
        meta_rows = None  # full re-scan fallback below

    obj = _new_object_rel()
    # postings: per-(tok, id) REPLACE — survivors of the touched old
    # dirs union the delta, rewritten tok-sorted into the new object
    old_hot = snap.postings(touched_buckets, n_buckets)
    if old_hot is not None:
        surv = old_hot.join(
            tf.select("tok", "id"), ["tok", "id"], "left_anti"
        ).withColumn("bucket", _tok_bucket(F.col("tok"), n_buckets))
        new_post = surv.unionByName(tf)
    else:
        new_post = tf
    (
        new_post.repartition(max(len(touched_buckets), 1), "bucket")
        .sortWithinPartitions("bucket", "tok", "id")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(_join(path, obj, "postings"))
    )
    # lengths: per-id REPLACE of the touched id buckets
    if old_touched_len is not None:
        new_len = old_touched_len.join(
            dlen.select("id"), "id", "left_anti"
        ).unionByName(dlen)
    else:
        new_len = dlen
    (
        new_len.withColumn(
            "lb", F.pmod(F.xxhash64("id"), F.lit(n_files)).cast("int")
        )
        .repartition(max(len(touched_lbs), 1), "lb")
        .sortWithinPartitions("lb", "id")
        .write.mode("overwrite")
        .partitionBy("lb")
        .parquet(_join(path, obj, "lengths"))
    )
    lengths_map = {
        **snap.manifest["lengths"],
        **_bucket_map(path, obj, "lengths", "lb"),
    }
    if meta_rows is not None:
        meta_df = spark.createDataFrame(
            meta_rows, "n long, avgdl double, sum_dl long"
        ).select(
            "n",
            "avgdl",
            "sum_dl",
            F.lit(n_buckets).alias("n_buckets"),
            F.lit(n_files).alias("n_files"),
            F.lit(gram).alias("gram"),
        )
    else:
        # full re-scan over the POST-replace lengths: the new touched
        # dirs plus the cold dirs the next manifest will reference
        post_len = spark.read.parquet(
            *[_join(path, rel) for rel in lengths_map.values()]
        )
        meta_df = post_len.agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
            F.sum("dl").cast("long").alias("sum_dl"),
            F.lit(n_buckets).alias("n_buckets"),
            F.lit(n_files).alias("n_files"),
            F.lit(gram).alias("gram"),
        )
    meta_df.coalesce(1).write.mode("overwrite").parquet(_join(path, obj, "meta"))
    try:
        _commit_index_manifest(
            path,
            int(snap.manifest["version"]) + 1,
            {
                "n_buckets": n_buckets,
                "n_files": n_files,
                "gram": gram,
                "meta": f"{obj}/meta",
                "postings": {
                    **snap.manifest["postings"],
                    **_bucket_map(path, obj, "postings", "bucket"),
                },
                "lengths": lengths_map,
            },
        )
    except CommitConflict:
        # another writer won this version: the whole mutation must
        # recompute against the NEW snapshot (its cold map changed) —
        # a textbook OCC rebase. Our written object dir becomes a
        # vacuumable orphan; nothing is partially visible.
        if retries > 0:
            return upsert_bm25_index(
                spark,
                delta_docs,
                path,
                text_col=text_col,
                id_col=id_col,
                retries=retries - 1,
            )
        raise
    return len(touched_buckets)


def vacuum_bm25_index(
    path: str, keep_last: int = 1, *, grace_seconds: float = 3600.0
) -> int:
    """:func:`~.index_commit.vacuum_index` for a BM25 index — retention
    is by OBJECT reference across the retained manifests (cold-bucket
    carry-over shares dirs between versions), with a ``grace_seconds``
    age window protecting in-flight writers' not-yet-committed dirs."""
    return vacuum_index(path, keep_last=keep_last, grace_seconds=grace_seconds)


def _empty_topk(spark, id_col: str, id_type: str = "string") -> DataFrame:
    """The (query_id, doc_id, score, rank) result shape with zero rows —
    what an empty query workload ranks to (ADVICE r9: the phrase paths
    used to raise IndexError on ``contribs[0]`` instead).

    ``id_type`` is the corpus id's DDL type (ADVICE r10: a hardcoded
    string here gave the empty-workload path a different schema than
    normal results, breaking callers that union batches)."""
    return spark.createDataFrame(
        [], f"query_id string, {id_col} {id_type}, score double, rank int"
    )


def _index_id_type(spark, path: str) -> str:
    """DDL type of the doc id persisted in an index's lengths relation —
    a footer-only schema read, no data job."""
    return _Bm25Snapshot(spark, path).id_type()


def _indexed_contrib(
    spark,
    path: str,
    queries: DataFrame,
    *,
    k1: float,
    b: float,
    expect_gram: int | None = None,
):
    """Per-(query, doc) BM25 contributions from a persisted posting
    index — the shared probe core of :func:`bm25_topk_indexed` and
    :func:`bm25_phrase_topk_indexed` (the latter unions contributions
    across per-length indexes BEFORE summing/ranking).

    ``expect_gram`` guards against a mis-wired index mapping (ADVICE
    r9): meta records the ``gram`` the index was built with, and a
    unigram index probed for bigram phrases would silently return
    empty/wrong rankings — raise instead.

    Driver traffic is BOUNDED regardless of workload size (VERDICT r16
    #5 — the r16 relational-ADC argument applied here): the old path
    collected the workload's whole distinct-term list to build the
    pruning predicate, which is the wrong shape for a million-query
    batch. Now (a) directory pruning collects distinct BUCKET ids, a
    set bounded by ``n_buckets`` however many terms the workload holds
    (the manifest's bucket->dir map is driver-side by design, exactly
    like the IVF probe's cell ranking); (b) the term filter probes the
    first 513 distinct terms — a workload that small gets the literal
    ``IN`` (pushed into the parquet scan: term-sorted posting files
    prune at row-group min/max), anything larger keeps the terms as a
    RELATION broadcast-semi-joined against the bucket-pruned postings,
    with no driver term list at all."""
    queries = queries.select(F.col("query_id"), F.col("term"))
    snap = _Bm25Snapshot(spark, path)
    meta_row = snap.meta_row()  # memoized per resolved meta dir — no job
    if expect_gram is not None:
        built_gram = int(meta_row["gram"]) if "gram" in meta_row.asDict() else 1
        if built_gram != expect_gram:
            raise ValueError(
                f"index at {path} was built with gram={built_gram}, but the "
                f"probe expects gram={expect_gram} units — wire the right "
                f"per-length index (build_bm25_index(..., gram={expect_gram}))"
            )
    n_buckets = int(meta_row["n_buckets"])
    # directory-level pruning first: only the dirs the probe terms hash
    # to are even read — the manifest maps bucket -> dir driver-side
    # (the bucket fn is the same md5 base hash on both sides), so no
    # listing or extra job happens for cold buckets. O(n_buckets) rows.
    probe_buckets = sorted(
        int(r["b"])
        for r in queries.select(
            _tok_bucket(F.col("term"), n_buckets).alias("b")
        )
        .distinct()
        .collect()
    )
    postings = snap.postings(probe_buckets, n_buckets)
    if postings is None:
        # no referenced dir for any probe bucket: nothing can match
        return spark.createDataFrame(
            [], f"query_id string, id {snap.id_type()}, s double"
        )
    term_rel = queries.select(F.col("term").alias("tok")).distinct()
    probe = [r["tok"] for r in term_rel.limit(513).collect()]
    if len(probe) <= 512:
        # literal IN pushes into the parquet scan: only row groups
        # whose tok min/max admit a probe term are read
        tf = postings.where(F.col("tok").isin(probe))
    else:
        # large workloads: the term set STAYS a relation — a literal IN
        # this wide bloats the plan (the versioned DV-mask lesson) and
        # the full collect is an unbounded driver round-trip. Row-group
        # pruning is lost but the scan still prunes to the probe
        # buckets, never the corpus text.
        tf = postings.join(F.broadcast(term_rel), "tok", "left_semi")
    dlen = snap.lengths()
    # the committed scalars (n, avgdl) inline as literals from the
    # memoized meta row — two 1-row parquet scans + crossJoins leave
    # the probe plan (r17); values are the exact committed ones
    n_lit = F.lit(int(meta_row["n"]))
    avgdl_lit = F.lit(float(meta_row["avgdl"]))
    idf = (
        tf.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .select(
            "tok",
            F.log(
                F.lit(1.0)
                + (n_lit - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
            ).alias("idf"),
        )
    )
    return (
        tf.join(F.broadcast(idf), "tok")
        .join(F.broadcast(queries), F.col("tok") == F.col("term"))
        .join(dlen, "id")
        .withColumn("avgdl", avgdl_lit)
        .select(
            "query_id",
            "id",
            (
                F.col("idf")
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
                )
            ).alias("s"),
        )
    )


def _rank_topk(scored_contrib, id_col: str, k: int, decimals: int):
    from pyspark.sql import Window

    scored = scored_contrib.groupBy("query_id", "id").agg(
        F.round(F.sum("s"), decimals).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("id").alias(id_col), "score", "rank")
    )


def bm25_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    *,
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
    k: int = 10,
    decimals: int = 6,
) -> DataFrame:
    """:func:`bm25_topk` semantics over a persisted index: identical
    scores and ranking, but the corpus-sized work drops to a
    predicate-pushed scan of the term-sorted posting files — df, idf,
    and per-doc sums all derive from the posting sliver the probe
    terms select."""
    if not queries.take(1):
        return _empty_topk(spark, id_col, _index_id_type(spark, path))
    contrib = _indexed_contrib(spark, path, queries, k1=k1, b=b, expect_gram=1)
    return _rank_topk(contrib, id_col, k, decimals)


def bm25_phrase_topk_indexed(
    spark,
    paths_by_len: dict[int, str],
    phrase_queries: DataFrame,
    *,
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
    k: int = 10,
    decimals: int = 6,
) -> DataFrame:
    """:func:`bm25_phrase_topk` semantics over persisted n-gram posting
    indexes — the standing phrase workload: one ``gram=L`` index per
    phrase length in use (``paths_by_len[L]``, built by
    :func:`build_bm25_index` with ``gram=L``), each probed for its
    length's phrases through the same bucket-pruned posting sliver the
    unigram probe reads; contributions union across lengths and sum per
    query BEFORE ranking, so scores equal the direct path exactly. The
    corpus text is never re-read at probe time."""
    qrows = phrase_queries.select("query_id", "phrase").collect()  # kilobytes
    by_len: dict[int, list[tuple[str, str]]] = {}
    for r in qrows:
        by_len.setdefault(len(r["phrase"].split()), []).append(
            (r["query_id"], r["phrase"])
        )
    if not by_len:
        if paths_by_len:
            any_path = next(iter(paths_by_len.values()))
            return _empty_topk(spark, id_col, _index_id_type(spark, any_path))
        return _empty_topk(spark, id_col)
    missing = sorted(set(by_len) - set(paths_by_len))
    if missing:
        raise ValueError(
            f"no gram index for phrase length(s) {missing}: build one with "
            f"build_bm25_index(..., gram=L) per length in the workload"
        )
    contribs = []
    for L, pairs in sorted(by_len.items()):
        pq = spark.createDataFrame(pairs, "query_id string, term string")
        contribs.append(
            _indexed_contrib(spark, paths_by_len[L], pq, k1=k1, b=b, expect_gram=L)
        )
    allc = contribs[0]
    for c in contribs[1:]:
        allc = allc.unionByName(c)
    return _rank_topk(allc, id_col, k, decimals)


def build_bm25_catalog(
    docs: DataFrame,
    path: str,
    *,
    grams: tuple[int, ...] = (1, 2, 3),
    text_col: str = "text",
    id_col: str = "doc_id",
    n_files: int = 8,
    n_buckets: int = 8,
) -> dict[int, str]:
    """One ``gram=L`` index per phrase length under ``path/g<L>`` — the
    standing-phrase-workload catalog (VERDICT r9 #6). Routing is
    META-RECORDED, not hand-assembled: each child commits its ``gram``
    in its manifest, and :func:`catalog_paths_by_gram` re-derives the
    length->index mapping from those manifests alone, so a mis-laid
    directory can never silently route a bigram probe at a unigram
    index (the probe's ``expect_gram`` check backstops it). Returns the
    mapping it built."""
    out = {}
    for gram in grams:
        child = _join(path, f"g{gram}")
        build_bm25_index(
            docs,
            child,
            text_col=text_col,
            id_col=id_col,
            n_files=n_files,
            n_buckets=n_buckets,
            gram=gram,
        )
        out[gram] = child
    return out


def catalog_paths_by_gram(path: str) -> dict[int, str]:
    """gram -> index path for every committed child index under a
    catalog root, read from the children's manifests (driver-side JSON
    reads, no Spark job). Raises if two children claim the same gram —
    that is a mis-built catalog, not a routing preference."""
    store = log_store_for(path)
    out: dict[int, str] = {}
    for d in store.list_subdirs(path):
        child = _join(path, d)
        m = read_index_manifest(child)
        if m is None:
            continue
        gram = int(m["gram"])
        if gram in out:
            raise ValueError(
                f"catalog at {path} has two indexes for gram={gram}: "
                f"{out[gram]} and {child} — vacuum or rebuild the catalog"
            )
        out[gram] = child
    return out


def upsert_bm25_catalog(
    spark,
    delta_docs: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict[int, int]:
    """Fold a delta batch into EVERY index of a catalog (each commit is
    individually snapshot-atomic). Returns gram -> touched buckets."""
    return {
        gram: upsert_bm25_index(
            spark, delta_docs, child, text_col=text_col, id_col=id_col
        )
        for gram, child in sorted(catalog_paths_by_gram(path).items())
    }


def bm25_phrase_topk_catalog(
    spark,
    path: str,
    phrase_queries: DataFrame,
    *,
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
    k: int = 10,
    decimals: int = 6,
) -> DataFrame:
    """:func:`bm25_phrase_topk_indexed` with the gram->index mapping
    resolved from the catalog's manifests instead of hand-assembled."""
    return bm25_phrase_topk_indexed(
        spark,
        catalog_paths_by_gram(path),
        phrase_queries,
        id_col=id_col,
        k1=k1,
        b=b,
        k=k,
        decimals=decimals,
    )


def rrf_fuse(
    rankings: list[DataFrame],
    *,
    id_col: str = "doc_id",
    k: int = 10,
    c: int = 60,
    decimals: int = 6,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Büttcher, SIGIR 2009):
    ``fused(q, d) = Σ_systems 1 / (c + rank_system(q, d))`` — the
    standard hybrid-retrieval combiner for lexical (BM25) + semantic
    (ANN) rankings, robust to incomparable score scales because only
    RANKS enter the sum. Each input carries (query_id, ``id_col``,
    rank); a document absent from a system simply contributes nothing.

    Scale shape: inputs are top-N rankings — (queries × N) rows, never
    corpus-sized — so the fusion is a union + one small groupBy + one
    per-query window. The fused score is rounded before ranking (ties
    on doc id) so cross-engine float noise cannot flip a boundary
    rank; with ≤ a handful of systems the sum is order-insensitive in
    IEEE anyway."""
    from pyspark.sql import Window

    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    parts = [
        r.select(
            "query_id",
            F.col(id_col).alias("id"),
            (F.lit(1.0) / (F.lit(float(c)) + F.col("rank"))).alias("contrib"),
        )
        for r in rankings
    ]
    allc = parts[0]
    for p in parts[1:]:
        allc = allc.unionByName(p)
    fused = allc.groupBy("query_id", "id").agg(
        F.round(F.sum("contrib"), decimals).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("id").alias(id_col), "score", "rank")
    )


def bm25_phrase_topk(
    docs: DataFrame,
    phrase_queries: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
    k: int = 10,
    decimals: int = 6,
) -> DataFrame:
    """Exact PHRASE retrieval with BM25 scoring: each query is a set of
    multi-word phrases, and a phrase's tf is the number of positions
    where the document's consecutive tokens equal it exactly.

    Spark-first design note: Lucene answers phrases by intersecting
    POSITIONAL posting lists because its index stores per-term
    positions; the declarative equivalent — for a known phrase set —
    is counting matching word n-grams, which is semantically identical
    (an L-gram equals the phrase exactly at the positions the
    positional intersection would find) and keeps the whole plan in
    built-in expressions: one map-only ``word_ngrams`` explode per
    distinct phrase LENGTH, the broadcast phrase set filtering BEFORE
    the tf aggregation (the :func:`bm25_topk` shape — the shuffle
    carries matched candidates, not the corpus), dl = n-gram count per
    doc (map-only), df/idf/avgdl re-derived per length. Scores sum per
    query over its phrases, round before ranking, ties on doc id.

    The event space per length L is the doc's L-gram stream (dl =
    n_tokens - L + 1), so idf and length normalization are computed in
    the same units as tf — the standard reduction of BM25 to phrase
    "terms"."""
    spark = docs.sparkSession
    from pyspark.sql import Window

    qrows = phrase_queries.select("query_id", "phrase").collect()  # kilobytes
    by_len: dict[int, list[tuple[str, str]]] = {}
    for r in qrows:
        by_len.setdefault(len(r["phrase"].split()), []).append(
            (r["query_id"], r["phrase"])
        )
    if not by_len:
        return _empty_topk(
            spark, id_col, docs.schema[id_col].dataType.simpleString()
        )
    docs = ensure_cpu_parallelism(docs)  # n-gram explode per length is CPU-bound
    # ONE corpus pass for ALL phrase lengths (r17): the per-length loop
    # used to re-tokenize and re-explode the corpus once per distinct L
    # (2 scans per length: the dl map pass and the gram explode). Every
    # length's gram stream now derives from a single tokenization — the
    # streams explode as (L, g) tagged rows in one pass, and the dl map
    # pass computes every length's event-space size side by side. An
    # L-gram string only ever equals an L-word phrase, so tagging by L
    # keeps each length's (tf, df, dl, avgdl) event space exactly the
    # per-index one; every per-row formula and the final (query, id)
    # score sum are unchanged.
    lens = sorted(by_len)
    gram_of = {L: X.word_ngrams(text_col, L) for L in lens}
    pq = spark.createDataFrame(
        [(q, L, g) for L in lens for q, g in by_len[L]],
        "query_id string, L int, g string",
    )
    dlen = docs.select(
        F.col(id_col).alias("id"),
        *[F.size(gram_of[L]).alias(f"__dl{L}") for L in lens],
    )
    stats = dlen.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            (F.sum(f"__dl{L}") / F.count(F.lit(1))).alias(f"__avgdl{L}")
            for L in lens
        ],
    )
    dlen_l = dlen.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(L).alias("L"), F.col(f"__dl{L}").alias("dl")
                    )
                    for L in lens
                ]
            )
        ).alias("__x"),
    ).select("id", "__x.L", "__x.dl")
    def _tag(L: int):
        # NB: must return a UNARY lambda — pyspark treats a 2-arg lambda
        # as (element, index), which would shadow the length tag
        return lambda g: F.struct(F.lit(L).alias("L"), g.alias("g"))

    units = docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.concat(*[F.transform(gram_of[L], _tag(L)) for L in lens])
        ).alias("__x"),
    ).select("id", "__x.L", "__x.g")
    tf = (
        units.join(
            F.broadcast(pq.select("L", "g").distinct()), ["L", "g"], "left_semi"
        )
        .groupBy("L", "g", "id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = (
        tf.groupBy("L", "g")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(stats.select("n")))
        .select(
            "L",
            "g",
            F.log(
                F.lit(1.0)
                + (F.col("n") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ).alias("idf"),
        )
    )
    avgdl_l = stats.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(L).alias("L"),
                        F.col(f"__avgdl{L}").alias("avgdl"),
                    )
                    for L in lens
                ]
            )
        ).alias("__x")
    ).select("__x.L", "__x.avgdl")
    allc = (
        tf.join(F.broadcast(idf), ["L", "g"])
        .join(F.broadcast(pq), ["L", "g"])
        .join(dlen_l, ["id", "L"])
        .join(F.broadcast(avgdl_l), "L")
        .select(
            "query_id",
            "id",
            (
                F.col("idf")
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
                )
            ).alias("s"),
        )
    )
    scored = allc.groupBy("query_id", "id").agg(
        F.round(F.sum("s"), decimals).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("id").alias(id_col), "score", "rank")
    )


def retrieval_quality_metrics(
    ranking: DataFrame,
    relevance: DataFrame,
    *,
    k: int = 10,
    id_col: str = "doc_id",
    decimals: int = 6,
) -> DataFrame:
    """IR quality metrics per query over a top-k ranking and a binary
    relevance table (VERDICT r12 #8): recall@k, precision@k, MRR, and
    nDCG@k — the standard retrieval-evaluation aggregates, expressed as
    pure relational algebra so a SQL oracle re-derives every value.

    - ``ranking``: (query_id, id, rank) — ranks 1-based, rows beyond
      ``k`` are ignored (so a top-20 ranking evaluates at k=10).
    - ``relevance``: (query_id, id) — binary relevant set, deduped here.

    Definitions (binary relevance, Järvelin & Kekäläinen TOIS 2002 for
    DCG): recall@k = |retrieved∩relevant| / |relevant|; precision@k =
    |retrieved∩relevant| / k; MRR = 1/rank of the first relevant hit
    (0 when no hit); nDCG@k = Σ_hits 1/log2(rank+1) divided by the
    ideal Σ_{i=1..min(|relevant|,k)} 1/log2(i+1).

    Scale shape: one join of the (queries × k)-row ranking against the
    relevance dim, one groupBy per side, and the ideal-DCG is a codegen
    ``sequence``/``aggregate`` over min(|relevant|, k) terms — no
    corpus scan, no window over the corpus. Queries present in either
    input appear in the output (missing side → zero metrics)."""
    r = ranking.where(F.col("rank") <= k).select(
        "query_id", F.col(id_col).alias("id"), "rank"
    )
    rel = relevance.select(
        "query_id", F.col(id_col).alias("id")
    ).distinct()
    hits = r.join(rel.withColumn("__rel", F.lit(1)), ["query_id", "id"], "left")
    agg = hits.groupBy("query_id").agg(
        F.coalesce(F.sum("__rel"), F.lit(0)).cast("long").alias("n_hit"),
        F.max(
            F.when(F.col("__rel") == 1, F.lit(1.0) / F.col("rank"))
        ).alias("__mrr"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("__rel") == 1,
                    F.lit(1.0) / F.log2(F.col("rank") + F.lit(1.0)),
                )
            ),
            F.lit(0.0),
        ).alias("__dcg"),
    )
    nrel = rel.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_relevant")
    )
    joined = agg.join(nrel, "query_id", "full_outer").select(
        "query_id",
        F.coalesce(F.col("n_relevant"), F.lit(0)).alias("n_relevant"),
        F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
        F.coalesce(F.col("__mrr"), F.lit(0.0)).alias("__mrr"),
        F.coalesce(F.col("__dcg"), F.lit(0.0)).alias("__dcg"),
    )
    idcg = F.when(
        F.col("n_relevant") > 0,
        F.aggregate(
            F.sequence(F.lit(1), F.least(F.col("n_relevant"), F.lit(k)).cast("int")),
            F.lit(0.0),
            lambda acc, i: acc + F.lit(1.0) / F.log2(i.cast("double") + F.lit(1.0)),
        ),
    )
    return joined.select(
        "query_id",
        "n_relevant",
        F.round(
            F.when(
                F.col("n_relevant") > 0, F.col("n_hit") / F.col("n_relevant")
            ).otherwise(F.lit(0.0)),
            decimals,
        ).alias("recall_at_k"),
        F.round(F.col("n_hit") / F.lit(float(k)), decimals).alias("precision_at_k"),
        F.round(F.col("__mrr"), decimals).alias("mrr"),
        F.round(
            F.when(F.col("n_relevant") > 0, F.col("__dcg") / idcg).otherwise(
                F.lit(0.0)
            ),
            decimals,
        ).alias("ndcg_at_k"),
    )
