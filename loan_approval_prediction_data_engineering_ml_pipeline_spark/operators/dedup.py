"""Deduplication operators over a documents-shaped table — the
LLM-training-data core: exact, fingerprint, MinHash+LSH, SimHash,
n-gram Jaccard.

Scale design (the point of every function here):

- Signatures (minhash/simhash/md5) are computed per-row with map-only
  expressions — no shuffle until the data is reduced to ids + small
  signatures.
- Candidate generation shuffles ``(band_key, id)`` pairs, never document
  text. Band width trades recall vs candidate volume (classic banding
  theory: P[candidate] = 1 - (1 - j^r)^b).
- Verification joins candidate *ids* back to token sets — at 100 TB the
  candidate set is orders of magnitude smaller than the corpus, so the
  expensive exact-Jaccard check touches a sliver of the data.
"""

from __future__ import annotations

import hashlib
from typing import Iterable

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from ..functions import text as X
from ..functions.parallel import ensure_cpu_parallelism


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by normalized content fingerprint: one row per distinct
    md5(lower(trim(text))) with the kept id (min id — deterministic) and
    copy count.

    Grouping on the 16-byte fingerprint instead of the raw text means the
    shuffle carries hashes, not documents — the difference between
    shuffling 32 bytes/row and shuffling the corpus at 100 TB. md5
    collisions are ignorable by design (2^-64 birthday bound at petabyte
    corpus sizes); the map-side partial agg still dedupes locally first."""
    fp = X.fingerprint_md5(F.col(text_col))
    return (
        df.select(F.col(id_col), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keeper_id", "n_copies", "fingerprint")
    )


def incremental_exact_dedup(
    batch: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup an INCOMING batch against a persisted corpus fingerprint
    index — the production ingest shape: the 100 TB corpus is never
    rescanned, only its (already-written) fingerprint table is joined.

    ``index`` is any frame with a ``fingerprint`` column (the output of
    ``exact_dedup`` persists naturally as this index). Returns one row
    per batch doc with ``status``: ``dup_corpus`` (fingerprint already
    in the index), ``dup_batch`` (repeat within the batch; first
    occurrence by id wins), or ``new``.

    Scale shape: the batch (small) joins the index on 16-byte hashes —
    with the index stored bucketed by fingerprint the batch shuffles to
    the index layout and the index side is Exchange-free; the
    within-batch window partitions by fingerprint, same key, same
    shuffle. Corpus text is never touched."""
    from pyspark.sql import Window

    fp = X.fingerprint_md5(F.col(text_col))
    b = batch.select(F.col(id_col), fp.alias("fingerprint")).withColumn(
        "__rn",
        F.row_number().over(Window.partitionBy("fingerprint").orderBy(id_col)),
    )
    ex = index.select("fingerprint").distinct().withColumn("__in_corpus", F.lit(True))
    return b.join(ex, "fingerprint", "left").select(
        id_col,
        F.when(F.col("__in_corpus"), F.lit("dup_corpus"))
        .when(F.col("__rn") > 1, F.lit("dup_batch"))
        .otherwise(F.lit("new"))
        .alias("status"),
        "fingerprint",
    )


def decontaminate(
    train: DataFrame,
    eval_set: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share any
    word n-gram with a held-out evaluation set (the overlap pass run
    before pre-training so eval questions don't leak into the corpus;
    real pipelines use n of 8-13 — this corpus's ~50-token synthetic
    docs need n=3 for signal, and n is a parameter).

    Returns one row per contaminated training doc: (id, n_hits) where
    n_hits counts the distinct eval n-grams it contains.

    Scale shape: the eval side is tiny by construction (a benchmark, not
    a corpus), so its distinct-shingle set broadcasts; the 100 TB train
    side is a single map-only pass (shingle -> explode) into a
    broadcast-hash join — no all-to-all shuffle ever touches corpus
    text. The one exchange is the per-doc hit count, keyed on ids of
    the (rare) contaminated rows only."""
    t_sh = _ensure_cpu_parallelism(train).select(
        F.col(id_col), F.explode(X.word_shingles(text_col, n)).alias("__gram")
    )
    e_sh = (
        eval_set.select(F.explode(X.word_shingles(text_col, n)).alias("__gram"))
        .distinct()
    )
    return (
        t_sh.join(F.broadcast(e_sh), "__gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def _ensure_cpu_parallelism(df: DataFrame) -> DataFrame:
    """Spread CPU-heavy map work across all cores when the leaf scans
    cannot feed that many tasks (small/few/row-group-bound files). At
    real corpus scale the scan already has >= cores partitions and this
    is a no-op — no extra shuffle lands in the 100 TB plan. The decision
    is metadata-only (see functions/parallel.py — the old
    ``df.rdd.getNumPartitions()`` probe executed every upstream AQE
    stage just to read the partition count, 3-7.5 s of discarded work
    per call on a windowed lineage)."""
    return ensure_cpu_parallelism(df)


def _shingle_set(text_col: str, shingle_n: int) -> Column:
    """The document's set representation: distinct unigram tokens for
    ``shingle_n=1`` (cheap, high ambient Jaccard on small vocabularies),
    distinct word n-grams otherwise (the standard near-dup shingling —
    ambient Jaccard between unrelated docs collapses to ~0, which is
    what keeps LSH candidate volume sane on a repetitive corpus)."""
    if shingle_n == 1:
        return X.distinct_tokens(text_col)
    return F.array_sort(X.word_shingles(text_col, shingle_n))


def _minhash_sig(k: int, tokh_col: str = "__tokh") -> Column:
    """The k-slot minhash signature expression over a base-hash array
    column: slot i = min over (a_i*h + b_i) mod p. THE single definition
    of the signature recipe — the SQL oracle for ``dedup_minhash_groups``
    is generated from the same ``minhash_coeffs`` constants, so every
    Spark path must derive its signature from this expression."""
    def affine(i: int):
        a, b = X.minhash_coeffs(i)
        return lambda h: (F.lit(a) * h + F.lit(b)) % X.MINHASH_PRIME

    return F.array(
        *[F.array_min(F.transform(F.col(tokh_col), affine(i))) for i in range(k)]
    )


def with_minhash(
    df: DataFrame, text_col: str = "text", k: int = 16, *, shingle_n: int = 1
) -> DataFrame:
    """Attach `sig` (array<long> length k): per-row map-only minhash.

    The md5 base-hash array is projected into its own step: inlining it
    inside each of the k affine lambdas makes codegen re-hash every
    token k times (measured 2x+ slower at k=16). CollapseProject keeps
    the split because the expression is expensive and
    multiply-referenced. One md5 per token total — the k slots are
    cheap (a*h + b) mod p transforms of the shared array."""
    hashed = _ensure_cpu_parallelism(df).select(
        "*",
        F.transform(_shingle_set(text_col, shingle_n), X.token_base_hash).alias("__tokh"),
    )
    return hashed.select(*df.columns, _minhash_sig(k).alias("sig"))


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 1,
) -> DataFrame:
    """MinHash-LSH candidate pairs: shingle → minhash → band → bucket-join.

    Rows explode to ``bands`` (band_id, band_key) tuples; a self-join on
    the bucket yields candidates. Only ids and band keys shuffle. The
    ``distinct()`` collapses pairs that collide in several bands.
    """
    if bands > k or k % bands != 0:
        raise ValueError(
            f"bands ({bands}) must evenly divide k ({k}): bands>k would "
            "give every row an empty band key (an all-pairs self-join), "
            "and a remainder would silently drop signature rows"
        )
    sigs = with_minhash(
        df.select(id_col, text_col), text_col, k, shingle_n=shingle_n
    ).select(id_col, "sig")
    banded = sigs.select(
        F.col(id_col).alias("id"), F.explode(_band_struct_expr(k, bands)).alias("bk")
    ).select("id", "bk.band_id", "bk.band_key")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band_id", "band_key"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def verified_pairs(
    df: DataFrame,
    candidates: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_jaccard: float = 1.0,
) -> DataFrame:
    """Exact-Jaccard verification of LSH candidates: join candidate ids
    back to token sets, keep pairs with jaccard >= min_jaccard.

    With min_jaccard=1.0 recall is exactly 1 (identical sets produce
    identical signatures, hence share every band bucket), which makes the
    output deterministic and oracle-checkable."""
    toks = df.select(
        F.col(id_col).alias("id"), X.distinct_tokens(text_col).alias("toks")
    )
    joined = candidates.join(
        toks.select(F.col("id").alias("id_a"), F.col("toks").alias("ta")), "id_a"
    ).join(toks.select(F.col("id").alias("id_b"), F.col("toks").alias("tb")), "id_b")
    if min_jaccard >= 1.0:
        # jaccard==1 on distinct sorted sets == array equality: one cheap
        # comparison per candidate instead of intersect+union hash sets —
        # matters when the corpus is near-dup-heavy and candidates are many.
        return joined.where(F.col("ta") == F.col("tb")).select(
            "id_a", "id_b", F.lit(1.0).alias("jaccard")
        )
    j = X.jaccard(F.col("ta"), F.col("tb"))
    return joined.where(F.round(j, 6) >= F.lit(min_jaccard)).select(
        "id_a", "id_b", F.round(j, 6).alias("jaccard")
    )


class LshSignatureCache:
    """Explicit lifetime handle for persisted LSH signature tables.

    ``minhash_lsh_dedup`` persists its (id, toks, sig) table so the
    band join + two verification joins don't recompute it. Lifetime:

    - Without a handle, the persist is left to Spark's CacheManager,
      which dedupes by logical plan — re-running the same query reuses
      the one cache entry, so memory is bounded by the number of
      DISTINCT (corpus, params) signature tables, each tiny relative
      to its corpus.
    - With a handle (one per pipeline / context manager), each new
      table evicts the previous one deterministically — no
      module-global mutable state, the caller owns the lifetime.
    """

    def __init__(self) -> None:
        self._current: DataFrame | None = None

    def swap(self, df: DataFrame) -> DataFrame:
        if self._current is not None:
            self._current.unpersist()
        self._current = df.persist()
        return self._current

    def close(self) -> None:
        if self._current is not None:
            self._current.unpersist()
            self._current = None

    def __enter__(self) -> "LshSignatureCache":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def signature_table(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    shingle_n: int = 1,
) -> DataFrame:
    """The persisted-table half of every LSH pipeline: ``(id, toks,
    sig)``. Shingle ONCE, then derive both the verification set
    ("toks") and the signature from it. Routing through with_minhash
    would rebuild the shingle array a second time for "toks" — for
    n-gram shingles that is a full extra split+concat pass over the
    corpus (measured ~25% of the sf0.1 near-dup query). Each projection
    step keeps the expensive multiply-referenced alias split
    (CollapseProject leaves it alone), so the shingle and base-hash
    arrays are computed exactly once; the signature itself comes from
    the same _minhash_sig expression with_minhash uses, so the recipes
    cannot drift."""
    shingled = _ensure_cpu_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col).alias("id"),
        _shingle_set(text_col, shingle_n).alias("toks"),
    )
    hashed = shingled.select(
        "id", "toks", F.transform("toks", X.token_base_hash).alias("__tokh")
    )
    return hashed.select("id", "toks", _minhash_sig(k).alias("sig"))


def _band_struct_expr(k: int, bands: int, sig_col: str = "sig") -> Column:
    """array<struct<band_id, band_key>> over a signature column — THE
    banding recipe, shared by batch and streaming LSH paths."""
    rows_per_band = k // bands
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    "-",
                    *[
                        F.col(sig_col)[b * rows_per_band + r].cast("string")
                        for r in range(rows_per_band)
                    ],
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )


def minhash_lsh_dedup(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 1,
    min_jaccard: float = 1.0,
    shingle_n: int = 1,
    cache: LshSignatureCache | None = None,
) -> DataFrame:
    """End-to-end MinHash+LSH dedup: signature → band bucket-join →
    exact verification, with the signature/token table computed ONCE and
    persisted.

    ``shingle_n`` picks the set representation (unigram tokens vs word
    n-grams) for BOTH signatures and verification; n-gram shingling is
    the standard choice for the approximate regime (``bands>1``,
    ``min_jaccard<1``) because it collapses ambient Jaccard between
    unrelated documents and with it the candidate volume.

    Without the persist, the self-join and the two verification joins
    each recompute tokenization+minhash (5 scans of the corpus); a
    persisted (id, toks, sig) table is exactly what a production pipeline
    materializes — it is orders of magnitude smaller than the documents.
    Persist lifetime: Spark's CacheManager dedupes by logical plan, so
    repeat runs of the same query reuse one entry; pass an explicit
    :class:`LshSignatureCache` to evict the previous table
    deterministically when chaining differently-parameterized calls."""
    if bands > k or k % bands != 0:
        raise ValueError(f"bands ({bands}) must evenly divide k ({k})")
    base = signature_table(df, id_col=id_col, text_col=text_col, k=k, shingle_n=shingle_n)
    base = cache.swap(base) if cache is not None else base.persist()
    banded = base.select(
        "id", F.explode(_band_struct_expr(k, bands)).alias("bk")
    ).select("id", "bk.band_id", "bk.band_key")
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(b, ["band_id", "band_key"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    if bands > 1:
        # multi-band: a pair colliding in several bands appears once per
        # collision; single-band output is already duplicate-free, so the
        # dedupe shuffle is skipped entirely.
        cands = cands.distinct()
    joined = cands.join(
        base.select(F.col("id").alias("id_a"), F.col("toks").alias("ta")), "id_a"
    ).join(base.select(F.col("id").alias("id_b"), F.col("toks").alias("tb")), "id_b")
    if min_jaccard >= 1.0:
        return joined.where(F.col("ta") == F.col("tb")).select(
            "id_a", "id_b", F.lit(1.0).alias("jaccard")
        )
    j = X.jaccard(F.col("ta"), F.col("tb"))
    return joined.where(F.round(j, 6) >= F.lit(min_jaccard)).select(
        "id_a", "id_b", F.round(j, 6).alias("jaccard")
    )


def prefix_filtered_jaccard_join(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_jaccard: float = 0.8,
    shingle_n: int = 3,
    cache: LshSignatureCache | None = None,
) -> DataFrame:
    """EXACT Jaccard-threshold self-join via prefix filtering (AllPairs,
    Bayardo et al. WWW'07; PPJoin, Xiao et al. WWW'08) — the
    deterministic production alternative to :func:`minhash_lsh_dedup`
    for the same ``(id_a, id_b, jaccard)`` output: zero false negatives
    by construction (LSH misses a qualifying pair with small but nonzero
    probability per band schedule), no signature tuning, and the exact
    complement of the ground-truth oracle the LSH path is graded
    against.

    The filter: under ANY single global ordering of shingles,
    J(a,b) >= t implies |a ∩ b| >= ceil(t·max(|a|,|b|)), so a and b must
    share at least one shingle among each side's FIRST
    ``|x| - ceil(t·|x|) + 1`` shingles when every document orders its
    shingles the same way. Ordering rarest-first (ascending global
    document frequency) keeps stop-shingles — whose inverted lists grow
    quadratically in a naive shared-shingle join — out of candidate
    generation entirely; a mutual size-ratio filter
    (``|a| >= ceil(t·|b|)`` and vice versa) prunes cross-size pairs
    before verification, and Xiao et al.'s POSITIONAL filter (r6)
    prunes candidates the prefix filter alone admits: a shared prefix
    shingle at rarest-first ranks (i, j) bounds the achievable overlap
    by ``1 + min(|a|−i, |b|−j)`` — if that bound is below the required
    overlap ``⌈t/(1+t)·(|a|+|b|)⌉`` (the Jaccard⇔overlap identity
    ``J ≥ t ⟺ |a∩b| ≥ t(|a|+|b|)/(1+t)``) for EVERY shared prefix
    shingle, the pair cannot qualify and never reaches the distinct /
    verify stages. For a qualifying pair the FIRST common shingle in
    the global order always passes the bound, so the filter is
    lossless.

    All threshold ceilings are computed as ``ceil(x − 1e-9)``: IEEE
    doubles overshoot products like 0.8·10 (→ 8.000000000000002, ceil
    9 instead of 8), which would SHORTEN prefixes below the lossless
    bound and silently drop boundary pairs — the epsilon restores the
    exact integer ceiling for any realistic size (< 1e6 shingles).
    The DuckDB oracle needs no epsilon (decimal arithmetic is exact
    there), which is itself the cross-engine check that the epsilon
    only corrects FP error rather than loosening the math.

    Persist lifetime: the shingle-set table backs the prefix pass and
    both verification joins; without a ``cache`` handle it persists
    through Spark's CacheManager (deduped by logical plan — bounded by
    distinct (corpus, params) calls, same contract as
    :func:`minhash_lsh_dedup`); pass an :class:`LshSignatureCache` to
    evict deterministically when chaining differently-parameterized
    calls.

    Scale shape (100 TB): one shuffle keys the exploded shingles for the
    global df count (map-side partial agg — vocabulary-sized output),
    one hash-partitions ``(id, shingle, df)`` for the per-document
    rarest-first rank, and the candidate join shuffles only PREFIX
    entries — ~(1−t)·|doc| shingles per document, e.g. a fifth of the
    exploded volume at t=0.8 — never the text. Verification joins
    candidates back to the persisted shingle-set table (computed once,
    reused three times). Cost is O(candidates) ≈ O(true pairs) on a
    shingled corpus, the same frontier as verified LSH but without the
    recall schedule. Reference has no similarity join; this extends its
    exact drop-duplicates (MY.ipynb cell 9) to near-duplicates.
    """
    from pyspark.sql import Window

    if not (0.0 < min_jaccard <= 1.0):
        raise ValueError(f"min_jaccard must be in (0, 1], got {min_jaccard}")
    shingled = _ensure_cpu_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col).alias("id"),
        _shingle_set(text_col, shingle_n).alias("toks"),
    )
    shingled = cache.swap(shingled) if cache is not None else shingled.persist()
    ex = shingled.select("id", F.size("toks").alias("sz"), F.explode("toks").alias("g"))
    gdf = ex.groupBy("g").agg(F.count("*").alias("df_g"))
    t = F.lit(min_jaccard)

    def ceil_exact(x):  # FP-overshoot-proof integer ceiling (see docstring)
        return F.ceil(x - F.lit(1e-9))

    prefix_len = (F.col("sz") - ceil_exact(t * F.col("sz")) + 1).cast("int")
    prefix = (
        ex.join(gdf, "g")
        .withColumn(
            "rk",
            F.row_number().over(Window.partitionBy("id").orderBy("df_g", "g")),
        )
        .where(F.col("rk") <= prefix_len)
        .select("id", "g", "sz", "rk")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # required overlap for J >= t, and the positional upper bound the
    # shared shingle's ranks allow
    need = ceil_exact(t / (1 + t) * (F.col("a.sz") + F.col("b.sz")))
    pos_bound = 1 + F.least(
        F.col("a.sz") - F.col("a.rk"), F.col("b.sz") - F.col("b.rk")
    )
    cands = (
        a.join(b, "g")
        .where(
            (F.col("a.id") < F.col("b.id"))
            & (F.col("a.sz") >= ceil_exact(t * F.col("b.sz")))
            & (F.col("b.sz") >= ceil_exact(t * F.col("a.sz")))
            & (pos_bound >= need)
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    joined = cands.join(
        shingled.select(F.col("id").alias("id_a"), F.col("toks").alias("ta")), "id_a"
    ).join(shingled.select(F.col("id").alias("id_b"), F.col("toks").alias("tb")), "id_b")
    j = X.jaccard(F.col("ta"), F.col("tb"))
    return joined.where(F.round(j, 6) >= t).select(
        "id_a", "id_b", F.round(j, 6).alias("jaccard")
    )


def union_find(a: Iterable, b: Iterable) -> dict:
    """Components of the undirected edges ``zip(a, b)`` by path-compressed
    union-find: ``{vertex: smallest vertex of its component}`` for every
    vertex on an edge."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for x, y in zip(a, b):
        parent.setdefault(x, x)
        parent.setdefault(y, y)
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[ry] = rx
    roots: dict = {}
    for v in parent:
        r = find(v)
        roots[r] = min(roots.get(r, v), v)
    return {v: roots[find(v)] for v in parent}


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    driver_threshold: int = 5_000_000,
) -> DataFrame:
    """Connected components over an undirected edge list. Returns
    ``(vertex, component)`` where component = the smallest vertex id
    reachable from ``vertex``.

    This is the canonical-document step of a dedup pipeline: LSH/cosine
    near-dup *pairs* become duplicate *clusters* keyed by their minimum
    id (keep one row per component, drop the rest).

    Scale-adaptive strategy. The edge list is the *candidate-pair* set —
    already LSH/blocking-bounded, orders of magnitude smaller than the
    corpus. When it fits on the driver (≤ ``driver_threshold`` distinct
    directed edges ≈ hundreds of MB of longs), path-compressed
    union-find in one pass beats diameter-many shuffle rounds; this is
    the contracted-graph endgame every distributed CC algorithm
    (GraphFrames included) finishes with — here it just starts there
    when the graph is already small. Above the threshold: iterative
    min-label propagation — ``comp(v) <- min(comp(v), min comp(u) over
    neighbors)`` — one shuffle of ``(vertex, component)`` longs per
    round (never payloads), rounds = graph diameter (near-dup graphs
    are shallow clique-ish blobs: 2-4), ``localCheckpoint`` cutting
    lineage each round so the plan stays bounded.

    Either way this runs Spark jobs while the plan is built (checkpoint,
    count, collect). Edges that never cross a block need none of it:
    ``similarity.cosine_components`` runs :func:`union_find` per block
    inside one ``applyInPandas`` and keeps this function for blocks too
    large for one task.
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    sym = e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d"))).distinct()
    sym = sym.localCheckpoint(eager=True)
    vtype = sym.schema["s"].dataType
    out_schema = T.StructType(
        [T.StructField("vertex", vtype), T.StructField("component", vtype)]
    )
    if sym.count() <= driver_threshold:
        # one Arrow transfer (toLocalIterator would run one sequential
        # job per partition); python-native lists keep createDataFrame
        # type inference happy
        pdf = sym.toPandas()
        data = list(union_find(pdf["s"].tolist(), pdf["d"].tolist()).items())
        return edges.sparkSession.createDataFrame(data, out_schema)

    comp = (
        sym.select(F.col("s").alias("vertex"))
        .distinct()
        .withColumn("component", F.col("vertex"))
        .localCheckpoint(eager=True)
    )
    changed = -1
    for _ in range(max_iter):
        nbr_min = (
            sym.join(comp, sym["d"] == comp["vertex"])
            .groupBy(F.col("s").alias("vertex"))
            .agg(F.min("component").alias("nbr_component"))
        )
        merged = (
            comp.join(nbr_min, "vertex", "left")
            .select(
                "vertex",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))
                ).alias("component"),
                (F.col("nbr_component") < F.col("component")).alias("_changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = merged.where(F.col("_changed")).count()
        comp = merged.drop("_changed")
        if changed == 0:
            break
    if changed != 0:
        # Partial labels would silently drop/keep the wrong documents in a
        # keep-one-per-cluster dedup — fail loudly instead.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter — rounds "
            "needed = graph diameter"
        )
    return comp


def minhash_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 16) -> DataFrame:
    """Near-dup *groups* by full-signature equality: documents whose entire
    k-hash signature matches are (almost certainly) token-set-identical.
    Output: one row per multi-member group."""
    sigs = with_minhash(df.select(id_col, text_col), text_col, k)
    return (
        sigs.groupBy("sig")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("group_size"))
        .where(F.col("group_size") > 1)
        .select("keeper_id", "group_size")
    )


def ngram_jaccard_vs_pivot(
    df: DataFrame,
    pivot_id: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 1,
    threshold: float = 0.5,
) -> DataFrame:
    """n-gram Jaccard similarity of every document against one pivot
    document (n=1 → token sets). The pivot row is a broadcast 1-row dim;
    the corpus side is a single map-side pass."""
    sh = X.distinct_tokens(text_col) if n == 1 else X.word_shingles(text_col, n)
    sets = df.select(F.col(id_col), sh.alias("sh"))
    pivot = sets.where(F.col(id_col) == pivot_id).select(F.col("sh").alias("pivot_sh"))
    j = X.jaccard(F.col("sh"), F.col("pivot_sh"))
    return (
        sets.where(F.col(id_col) != pivot_id)
        .join(F.broadcast(pivot))
        .select(F.col(id_col), F.round(j, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
        .orderBy(F.desc("jaccard"), F.asc(id_col))
    )


def mllib_minhash_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hash_tables: int = 8,
    max_jaccard_dist: float = 0.0,
    seed: int = 42,
) -> DataFrame:
    """MLlib-native MinHash+LSH near-dup pairs — the library twin of the
    expression-based ``minhash_lsh_dedup`` (kept for comparison and for
    users who want the stock estimator): tokens → CountVectorizer binary
    vectors → MinHashLSH → approxSimilarityJoin on Jaccard distance.

    Note the trade: CountVectorizer materializes a vocabulary model
    (driver-held, broadcast), which the pure-expression path avoids —
    at web-corpus vocabulary sizes prefer hashing-based features or the
    expression path."""
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    toks = df.select(F.col(id_col).alias("id"), X.distinct_tokens(text_col).alias("toks"))
    cv = CountVectorizer(inputCol="toks", outputCol="vec", binary=True)
    cv_model = cv.fit(toks)
    vecs = cv_model.transform(toks)
    mh = MinHashLSH(inputCol="vec", outputCol="hashes", numHashTables=num_hash_tables, seed=seed)
    model = mh.fit(vecs)
    # approxSimilarityJoin keeps dist STRICTLY BELOW the threshold, which
    # would drop exact duplicates at threshold 0 — widen by epsilon and
    # re-apply the inclusive bound ourselves
    pairs = model.approxSimilarityJoin(
        vecs, vecs, max_jaccard_dist + 1e-9, distCol="jaccard_dist"
    ).where(F.col("jaccard_dist") <= max_jaccard_dist)
    return (
        pairs.where(F.col("datasetA.id") < F.col("datasetB.id"))
        .select(
            F.col("datasetA.id").alias("id_a"),
            F.col("datasetB.id").alias("id_b"),
            F.round(1.0 - F.col("jaccard_dist"), 6).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# SimHash — 64-bit weighted-bit-vote fingerprint. Not expressible with
# built-in array ops at reasonable cost (64 bit-counters per row), so this
# is the sanctioned fallback: an Arrow-batched pandas UDF (SURVEY.md §2.8).
# --------------------------------------------------------------------------


@F.pandas_udf(T.LongType())
def simhash64(texts: pd.Series) -> pd.Series:
    def one(text: str) -> int:
        votes = [0] * 64
        for tok in set(text.strip().split(" ")):
            h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
            for bit in range(64):
                votes[bit] += 1 if (h >> bit) & 1 else -1
        out = 0
        for bit in range(64):
            if votes[bit] > 0:
                out |= 1 << bit
        # keep within signed int64 for Spark LongType
        return out - (1 << 64) if out >= (1 << 63) else out

    return texts.map(one)


def simhash_candidate_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit fingerprint into 4×16-bit
    chunks (pigeonhole: hamming<=3 pairs must agree on >=1 chunk), bucket-
    join on chunks, verify true hamming distance with bit_count."""
    sh = df.select(F.col(id_col).alias("id"), simhash64(F.col(text_col)).alias("sh"))
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("chunk_id"),
                F.shiftright(F.col("sh"), i * 16).bitwiseAND(F.lit(0xFFFF)).alias("chunk"),
            )
            for i in range(4)
        ]
    )
    banded = sh.select("id", "sh", F.explode(chunks).alias("c")).select(
        "id", "sh", "c.chunk_id", "c.chunk"
    )
    a, b = banded.alias("a"), banded.alias("b")
    hamming = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    return (
        a.join(b, ["chunk_id", "chunk"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def bloom_prefiltered_dedup(
    batch: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    expected_items: int | None = None,
    fpp: float = 0.01,
) -> DataFrame:
    """:func:`incremental_exact_dedup` with a Bloom-filter fast path —
    the shape that wins when the BATCH is large and mostly novel: a
    Bloom filter built over the corpus fingerprint index (one pass over
    16-byte hashes, merged tree-wise by ``df.stat.bloomFilter``) is
    broadcast and applied MAP-SIDE to the batch, so only the
    maybe-in-corpus sliver joins the index for exact verification;
    definite-new rows never shuffle against the corpus at all.

    Output is IDENTICAL to the exact operator (a Bloom filter has no
    false negatives — a miss is definitely new; false positives are
    caught by the exact join on the sliver). Everything stays JVM-side
    with NO UDF: the bitmap is built by a ``bit_or`` aggregate over
    per-row bit positions (map-side combined; ``xxhash64(seed_i, fp)``
    gives the k hash functions), densified on the driver into a numpy
    int64 array (m/64 longs — ~1.2 MB per 10^6 corpus docs at 1% fpp,
    ~1.2 GB at 10^9: the same broadcast budget as any bloom; a Python
    list of ints would cost ~3-4 GB of PyObject overhead at that size,
    ADVICE r4), shipped as a broadcast 1-row ``array<long>``, and probed
    by codegen shift/AND arithmetic. The index join then sees only (true
    dups + fpp·batch) rows; Spark's own bloom machinery
    (``bloom_filter_agg``/``might_contain``) is optimizer-internal and
    not SQL-registered, hence this explicit construction.

    At ingest cadence the corpus row count is known (manifest/table
    metadata) — PASS ``expected_items`` so the bitmap geometry is fixed
    up-front and the index is scanned exactly once. When it is None the
    distinct fingerprints are localCheckpoint'ed before counting, so the
    count and the bitmap aggregate still read the index only once (the
    second action reads the checkpoint, not the parquet).
    """
    import math

    import numpy as np
    from pyspark.sql import Window

    fps = index.select("fingerprint").distinct()
    if expected_items is None:
        fps = fps.localCheckpoint(eager=True)
        expected_items = max(1000, fps.count())
    n_bits = max(64, int(-expected_items * math.log(fpp) / (math.log(2) ** 2)))
    n_words = (n_bits + 63) // 64
    m = n_words * 64
    k = max(1, min(8, round(m / expected_items * math.log(2))))

    def positions(col):
        return [F.pmod(F.xxhash64(F.lit(i), col), F.lit(m)) for i in range(k)]

    # Arrow-batched collect (toPandas), not row-at-a-time Row objects: at
    # 10^9 docs the populated-word set approaches n_words ≈ 1.2e8 entries
    words = (
        fps.select(F.explode(F.array(*positions(F.col("fingerprint")))).alias("p"))
        .select(
            (F.col("p") / 64).cast("long").alias("word"),
            F.expr("shiftleft(1L, CAST(p % 64 AS INT))").alias("bit"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(bit)").alias("bits"))
        .toPandas()
    )
    dense = np.zeros(n_words, dtype=np.int64)
    dense[words["word"].to_numpy()] = words["bits"].to_numpy()
    spark = batch.sparkSession
    import pandas as pd

    # pandas→Arrow path: the ndarray ships as a list<int64> array without
    # ever materializing n_words Python int objects on the driver
    flt = spark.createDataFrame(
        pd.DataFrame({"__bloom": [dense]}), schema="__bloom array<long>"
    )

    fp = X.fingerprint_md5(F.col(text_col))
    b = batch.select(F.col(id_col), fp.alias("fingerprint")).withColumn(
        "__rn",
        F.row_number().over(Window.partitionBy("fingerprint").orderBy(id_col)),
    )
    import functools

    probe = functools.reduce(
        lambda a, c: a & c,
        [
            F.expr(
                f"(element_at(__bloom, CAST({p_sql} DIV 64 AS INT) + 1)"
                f" & shiftleft(1L, CAST({p_sql} % 64 AS INT))) != 0"
            )
            for p_sql in [
                f"pmod(xxhash64({i}, fingerprint), {m})" for i in range(k)
            ]
        ],
    )
    b = b.crossJoin(F.broadcast(flt)).withColumn("__maybe", probe).drop("__bloom")
    sliver = b.where(F.col("__maybe")).join(
        fps.withColumn("__in_corpus", F.lit(True)), "fingerprint", "left"
    )
    definite_new = b.where(~F.col("__maybe")).withColumn(
        "__in_corpus", F.lit(None).cast("boolean")
    )
    merged = sliver.unionByName(definite_new)
    return merged.select(
        id_col,
        F.when(F.col("__in_corpus"), F.lit("dup_corpus"))
        .when(F.col("__rn") > 1, F.lit("dup_batch"))
        .otherwise(F.lit("new"))
        .alias("status"),
        "fingerprint",
    )


def keep_best_representative(
    membership_quality: DataFrame,
    *,
    id_col: str = "vec_id",
    component_col: str = "component",
    quality_col: str = "q",
) -> DataFrame:
    """Quality-aware canonical selection over near-dup clusters: each
    component keeps its HIGHEST-quality member (FineWeb/RefinedWeb keep
    the best-scoring representative, not an arbitrary one). Input is one
    row per document — ``(id, component, quality)``, with singletons
    being their own component — and the output is one row per component:
    ``(component, n_members, kept_id, kept_q)``.

    Ties are deterministic: equal quality breaks on ASCENDING id, so
    the keeper is a pure function of the input under any partitioning
    (re-runs, oracle comparison, and resumed pipelines all agree).

    Scale shape: the argmax is one window over (component) and the size
    is one groupBy — cluster-cardinality rows shuffle, never text, and
    both consume the SAME exchange on the component key."""
    from pyspark.sql import Window as W

    m = membership_quality.select(
        F.col(id_col).alias("__id"),
        F.col(component_col).alias("component"),
        F.col(quality_col).alias("__q"),
    )
    keeper = (
        m.withColumn(
            "__rk",
            F.row_number().over(
                W.partitionBy("component").orderBy(
                    F.desc("__q"), F.asc("__id")
                )
            ),
        )
        .where(F.col("__rk") == 1)
        .select(
            "component",
            F.col("__id").alias("kept_id"),
            F.col("__q").alias("kept_q"),
        )
    )
    counts = m.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    return counts.join(keeper, "component").select(
        "component", "n_members", "kept_id", "kept_q"
    )
