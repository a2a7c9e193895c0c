"""LLM-training-data-pipeline named queries: dedup, similarity search,
text analysis over the ``documents`` / ``embeddings`` tables — the
north-star extension surface (BASELINE.json), each with a DuckDB oracle
where the semantics are SQL-expressible.

Oracle-parity discipline for the hash-based ops: MinHash uses one
md5-derived base hash per token (``int(hex(md5(token))[:15]) mod p``)
and per-slot affine permutations ``(a_i*h + b_i) mod p`` — computable
identically in DuckDB (the oracle SQL is generated programmatically
below from ``functions.text.minhash_coeffs`` so Spark and SQL literally
share the hash definition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import text as X
from ..functions import vectors as V
from ..functions.parallel import ensure_cpu_parallelism
from ..operators import dedup as D
from ..operators import similarity as S
from ..sources.loaders import load_table
from ..sources.memo import memo
from .registry import query


def _docs_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table with CPU parallelism ensured — the loader for
    text-CPU-bound plans (tokenize/md5/regex map work). Metadata-only
    decision; a no-op at real corpus scale (functions/parallel.py)."""
    return ensure_cpu_parallelism(load_table(spark, sf_dir, "documents"))


MINHASH_K = 16

_TOKS = "list_distinct(string_split(trim(text), ' '))"
_STOP_EN = "['the','a','of','and','to','in','is']"
_STOP_DE = "['der','die','das','und','ist','ein']"
_STOP_FR = "['le','la','les','et','est','un']"


_TOKH = (
    "list_transform(list_distinct(string_split(trim(text), ' ')), x -> "
    f"CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) % {X.MINHASH_PRIME})"
)


def _minhash_expr_sql(i: int) -> str:
    """DuckDB twin of functions.text.minhash_signature slot i: min over
    the shared base-hash array under the slot's affine permutation."""
    a, b = X.minhash_coeffs(i)
    return f"list_min(list_transform(tokh, h -> ({a} * h + {b}) % {X.MINHASH_PRIME}))"


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
    SELECT min(doc_id)              AS keeper_id,
           CAST(count(*) AS BIGINT) AS n_copies,
           md5(lower(trim(text)))   AS fingerprint
    FROM documents
    GROUP BY md5(lower(trim(text)))
    """,
    description="Exact dedup by normalized content fingerprint: keeper id, "
    "copy count per distinct md5 (shuffle carries 16-byte hashes, not text)",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(load_table(spark, sf_dir, "documents"))


_sig_cols = ",\n        ".join(f"{_minhash_expr_sql(i)} AS sig{i}" for i in range(MINHASH_K))
_sig_names = ", ".join(f"sig{i}" for i in range(MINHASH_K))


@query(
    "dedup_minhash_groups",
    # demoted to local in r15 (driver cap is 50): the banded near-dup
    # row (dedup_minhash_near) is the load-bearing minhash surface and
    # near_dup_components covers grouping; this signature-groupBy twin
    # stays parity-gate-verified
    tier="local",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKH} AS tokh FROM documents),
    s AS (SELECT doc_id,
        {_sig_cols}
        FROM t)
    SELECT min(doc_id) AS keeper_id, CAST(count(*) AS BIGINT) AS group_size
    FROM s
    GROUP BY {_sig_names}
    HAVING count(*) > 1
    ORDER BY keeper_id
    """,
    description=f"MinHash near-dup groups: {MINHASH_K}-hash signature over "
    "token sets computed with transform+array_min (map-only, no UDF); "
    "docs sharing the full signature form a dup group",
)
def dedup_minhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_dup_groups(docs, k=MINHASH_K).orderBy("keeper_id")


# NB: keep MINHASH_K in sync between fn and oracle — the oracle SQL above
# is generated from the same constant at import time.


# DuckDB twin of functions.text.word_ngrams(text, n): ALL word n-grams
# in positional order (docs in this corpus always have >= 10 tokens, so
# the short-doc guard never fires and the oracle can skip it).
def _ngrams_sql(n: int, text: str = "text") -> str:
    toks = f"string_split(trim({text}),' ')"
    return (
        f"list_transform(range(1, len({toks}) - ({n - 2})), "
        f"i -> array_to_string(list_slice({toks}, i, i+{n - 1}), ' '))"
    )


def _shingles_sql(n: int, text: str = "text") -> str:
    """Distinct n-gram shingle set (word_shingles twin)."""
    return f"list_distinct({_ngrams_sql(n, text)})"


_SHINGLES3 = _shingles_sql(3)


# Ground-truth threshold-Jaccard oracle with PREFIX-FILTERED candidate
# generation (r5; Chaudhuri/Ganti/Kaushik 2006, Xiao et al. PPJoin 2008
# — exact, not approximate): under any single GLOBAL ordering of
# shingles, J(a,b) >= t forces |a∩b| >= t·max(|a|,|b|), so the pair
# must share a shingle inside each side's first
# (sz − ceil(t·sz) + 1) shingles when ordered rarest-first.
# Joining only those prefixes keeps high-doc-frequency shingles —
# whose inverted lists grow quadratically in the join — out of
# candidate generation entirely. The naive shared-shingle join
# (previous r5 attempt) was itself the blowup at the sf1 gate: the
# near-dup upsample multiplies every shingle's doc frequency by 10,
# and a df-10k shingle alone contributes 5·10^7 join rows (observed
# >100 GB in DuckDB's DISTINCT). A size filter (0.8-ratio) prunes
# the rest. Same truth set as the all-pairs self-join — equality
# asserted in tests/test_llm_ops.py at sf0.01. Shared by
# dedup_minhash_near (the approximate path must reproduce the full
# truth set) and dedup_jaccard_prefix (the Spark twin of the SAME
# algorithm — an independent DataFrame implementation, not a port).
_PREFIX_JACCARD_ORACLE = f"""
    WITH sh AS MATERIALIZED (SELECT doc_id, {_SHINGLES3} AS s FROM documents),
    ex AS MATERIALIZED (SELECT doc_id, unnest(s) AS g FROM sh),
    gdf AS (SELECT g, count(*) AS df FROM ex GROUP BY g),
    ranked AS (
        SELECT e.doc_id, e.g,
               row_number() OVER (PARTITION BY e.doc_id ORDER BY d.df, e.g) AS rk,
               count(*) OVER (PARTITION BY e.doc_id) AS sz
        FROM ex e JOIN gdf d USING (g)
    ),
    pref AS (
        SELECT doc_id, g, sz FROM ranked
        WHERE rk <= sz - CAST(ceil(0.8 * sz) AS INT) + 1
    ),
    cand AS (SELECT DISTINCT x.doc_id AS ia, y.doc_id AS ib
             FROM pref x JOIN pref y
             ON x.g = y.g AND x.doc_id < y.doc_id
             AND x.sz >= ceil(0.8 * y.sz) AND y.sz >= ceil(0.8 * x.sz)),
    -- exact verify as a hash-parallel join-agg over the distinct
    -- (doc, shingle) relation instead of per-pair list_intersect
    -- (r14: 4.6M candidates x list ops ran ~9 MINUTES single-threaded
    -- in DuckDB at sf1; the equi-join form is seconds and bit-identical
    -- because shingle sets are already distinct)
    ov AS (
        SELECT c.ia, c.ib, count(*) AS ov
        FROM cand c
        JOIN ex x ON x.doc_id = c.ia
        JOIN ex y ON y.doc_id = c.ib AND y.g = x.g
        GROUP BY c.ia, c.ib
    ),
    szs AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY 1)
    SELECT ov.ia AS id_a, ov.ib AS id_b,
           round(ov.ov * 1.0 / (sa.sz + sb.sz - ov.ov), 6) AS jaccard
    FROM ov JOIN szs sa ON sa.doc_id = ov.ia
            JOIN szs sb ON sb.doc_id = ov.ib
    WHERE round(ov.ov * 1.0 / (sa.sz + sb.sz - ov.ov), 6) >= 0.8
    ORDER BY id_a, id_b
    """


@query(
    "dedup_minhash_near",
    oracle=_PREFIX_JACCARD_ORACLE,
    description="Approximate MinHash+LSH near-dup (the regime LSH exists "
    "for): word-3-shingles -> 16-hash minhash -> 8 bands x 2 rows -> "
    "bucket-join -> exact-Jaccard >= 0.8 verify. Oracle is the exact "
    "threshold self-join (ground truth): at 8x2 banding a j=0.89 pair "
    "misses all bands with P~4e-6 and measured recall on this corpus is "
    "exactly 1 (4x4 banding measurably missed one j=0.889 pair), so the "
    "approximate path must reproduce the full truth set. Shingling (not "
    "unigrams) keeps ambient Jaccard ~0 so candidate volume stays near "
    "the true-pair count (41 candidates for 25 true pairs at sf0.01) — "
    "the property that holds at 100 TB",
)
def dedup_minhash_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_dedup(
        docs, k=MINHASH_K, bands=8, min_jaccard=0.8, shingle_n=3
    ).orderBy("id_a", "id_b")


@query(
    "dedup_jaccard_prefix",
    oracle=_PREFIX_JACCARD_ORACLE,
    description="EXACT Jaccard-threshold self-join via AllPairs/PPJoin "
    "prefix filtering (word-3-shingles, t=0.8): rarest-first global "
    "shingle order, join only each document's first (sz-ceil(t*sz)+1) "
    "shingles with a mutual size-ratio filter, verify candidates "
    "exactly. Deterministic zero-false-negative twin of "
    "dedup_minhash_near — no banding schedule, no recall probability; "
    "candidate volume is O(true pairs) on a shingled corpus. The oracle "
    "is the same prefix-filtered SQL: here it checks an independent "
    "DataFrame implementation of the algorithm itself",
    tier="local",
)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.prefix_filtered_jaccard_join(
        docs, min_jaccard=0.8, shingle_n=3
    ).orderBy("id_a", "id_b")


@query(
    "ngram_jaccard_pivot",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    q AS (SELECT toks AS qt FROM t WHERE doc_id = 0)
    SELECT doc_id,
           round(len(list_intersect(toks, qt)) * 1.0
                 / len(list_distinct(list_concat(toks, qt))), 6) AS jaccard
    FROM t, q
    WHERE doc_id != 0
      AND round(len(list_intersect(toks, qt)) * 1.0
                / len(list_distinct(list_concat(toks, qt))), 6) >= 0.6
    ORDER BY jaccard DESC, doc_id
    """,
    description="n-gram Jaccard near-dup scan against a pivot document "
    "(n=1 token sets; broadcast 1-row dim, map-only corpus pass)",
)
def ngram_jaccard_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_vs_pivot(docs, pivot_id=0, n=1, threshold=0.6)


@query(
    "dedup_simhash",
    # Independent DuckDB re-derivation of the 64-bit weighted-bit-vote
    # fingerprint: md5(token) first 8 bytes big-endian == ('0x' || first 16
    # hex chars)::UBIGINT, per-bit vote via a range(64) cross join, then a
    # direct hamming<=3 pair scan. The band-join the Spark side uses is
    # EXACT for hamming<=3 (pigeonhole: 3 differing bits can touch at most
    # 3 of the 4 16-bit chunks), so the oracle needs no banding.
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(trim(text), ' '))) AS tok
      FROM documents
    ),
    th AS (
      SELECT doc_id, ('0x' || substr(md5(tok),1,16))::UBIGINT AS h
      FROM toks
    ),
    votes AS (
      SELECT doc_id, b.bit,
             sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM th, (SELECT unnest(range(64)) AS bit) b
      GROUP BY doc_id, b.bit
    ),
    sh AS (
      SELECT doc_id,
             sum(CASE WHEN v > 0 THEN (1::HUGEINT << bit) ELSE 0 END)::UBIGINT AS shu
      FROM votes GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.shu, b.shu))::INT AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.shu, b.shu)) <= 3
    ORDER BY id_a, id_b
    """,
    description="SimHash near-dup pairs: pandas-UDF 64-bit fingerprint, "
    "4x16-bit chunk banding (pigeonhole), bit_count hamming verify",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_candidate_pairs(docs, max_hamming=3).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


@query(
    "ann_cosine_topk",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
    SELECT vec_id, round(list_cosine_similarity(v, qv), 6) AS cosine
    FROM e, q
    WHERE vec_id != 0
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
    description="Exact cosine top-k over array<float> embeddings: "
    "zip_with/aggregate dot product in codegen, broadcast query vector, "
    "TakeOrderedAndProject top-k (no global sort)",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.brute_force_topk(emb, query_id=0, k=10)


@query(
    "embedding_near_dup",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cosine
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
    ORDER BY cosine DESC, id_a, id_b
    """,
    description="Embedding-cosine near-dup pairs with label blocking: "
    "tiled block-local BLAS Gram matrices via applyInPandas — Arrow "
    "ships each vector once per tile (O(n*d*chunks), not O(pairs*d)). "
    "adaptive hash-tiling (n_chunks=None) sizes tiles from the measured "
    "max block occupancy: one task holds O(tile_target^2) regardless of "
    "block growth — exact tiling, identical output, so the bounded path "
    "IS the oracle-checked path; small blocks pay zero tile duplication",
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.cosine_pairs_gemm(emb, threshold=0.4, block_col="label", n_chunks=None)


@query(
    "near_dup_components",
    oracle="""
    WITH RECURSIVE
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
    p AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
    ),
    edges AS (SELECT ia AS s, ib AS d FROM p UNION SELECT ib, ia FROM p),
    reach(a, b) AS (
        SELECT vec_id, vec_id FROM e
        UNION
        SELECT r.a, ed.d FROM reach r JOIN edges ed ON r.b = ed.s
    )
    SELECT a AS vec_id, min(b) AS component
    FROM reach GROUP BY a ORDER BY vec_id
    """,
    description="Near-dup clusters: label-blocked cosine pairs -> "
    "connected components, scale-adaptive: while the largest block fits "
    "one tile, one groupBy(label).applyInPandas computes each block's "
    "BLAS Gram matrix and union-finds its pairs in the same task, "
    "declared in the plan (the max-block-occupancy aggregate that picks "
    "the path runs once per version of the table); larger blocks take "
    "the tiled pair path and iterative "
    "min-label propagation shuffling only (vertex, component) longs per "
    "round -> every doc labeled with its canonical (minimum) id. The "
    "keep-one-per-cluster step of a training-data dedup pipeline; "
    "oracle = recursive-CTE transitive closure",
)
def near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    comps = S.cosine_components(
        emb, threshold=0.4, block_col="label", max_block=_label_occupancy(spark, sf_dir)
    )
    return (
        emb.select("vec_id")
        .join(comps, emb["vec_id"] == comps["vertex"], "left")
        .select(
            "vec_id",
            F.coalesce(F.col("component"), F.col("vec_id")).alias("component"),
        )
        .orderBy("vec_id")
    )


@query(
    "canonical_keep_best",
    tier="local",
    # Exact: the same recursive-CTE transitive closure as
    # near_dup_components picks the clusters, the shared _QUALITY_SQL
    # scores every member (rounded 6 dp BEFORE the argmax on both
    # sides), and the keeper is the per-cluster quality argmax with
    # min-id ties — deterministic end to end.
    oracle=lambda: f"""
    WITH RECURSIVE
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
    p AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
    ),
    edges AS (SELECT ia AS s, ib AS d FROM p UNION SELECT ib, ia FROM p),
    reach(a, b) AS (
        SELECT vec_id, vec_id FROM e
        UNION
        SELECT r.a, ed.d FROM reach r JOIN edges ed ON r.b = ed.s
    ),
    comp AS (SELECT a AS vec_id, min(b) AS component FROM reach GROUP BY a),
    q AS (
        SELECT doc_id AS vec_id, {_QUALITY_SQL} AS q
        FROM (SELECT *, string_split(trim(text), ' ') AS toks FROM documents)
    ),
    m AS (SELECT comp.component, comp.vec_id, q.q FROM comp JOIN q USING (vec_id)),
    keeper AS (
        SELECT component, vec_id AS kept_id, q AS kept_q,
               row_number() OVER (
                 PARTITION BY component ORDER BY q DESC, vec_id
               ) AS rk
        FROM m
    )
    SELECT m.component, CAST(count(*) AS BIGINT) AS n_members,
           k.kept_id, k.kept_q
    FROM m
    JOIN (SELECT component, kept_id, kept_q FROM keeper WHERE rk = 1) k
      USING (component)
    GROUP BY m.component, k.kept_id, k.kept_q
    ORDER BY component
    """,
    description="Quality-aware canonical selection: near-dup clusters "
    "(the near_dup_components closure) each keep their HIGHEST-QUALITY "
    "member instead of the minimum id — the keeper rule production "
    "dedup actually wants (FineWeb/RefinedWeb keep the best-scoring "
    "representative, not an arbitrary one). Per cluster: size, kept id, "
    "kept score. Scale shape: clusters come from near_dup_components' "
    "per-block Gram + union-find applyInPandas (never all-pairs; the "
    "tiled pair path for oversized blocks), quality is the map-only "
    "composite, and the "
    "argmax is one window over (component) — cluster-cardinality rows "
    "shuffle, never text",
)
def canonical_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    comps = S.cosine_components(
        emb, threshold=0.4, block_col="label", max_block=_label_occupancy(spark, sf_dir)
    )
    membership = (
        emb.select("vec_id")
        .join(comps, emb["vec_id"] == comps["vertex"], "left")
        .select(
            "vec_id",
            F.coalesce(F.col("component"), F.col("vec_id")).alias("component"),
        )
    )
    quality = docs.select(
        F.col("doc_id").alias("vec_id"),
        F.round(X.quality_score("text"), 6).alias("q"),
    )
    m = membership.join(quality, "vec_id")
    return D.keep_best_representative(m).orderBy("component")


@query(
    "embedding_centroids",
    oracle="""
    WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT label, CAST(pos AS INT) AS pos, round(avg(x), 6) AS centroid
    FROM (SELECT label, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM e)
    GROUP BY label, pos
    ORDER BY label, pos
    """,
    description="Per-label embedding centroid (elementwise mean): "
    "posexplode -> groupBy(label, pos). Shuffles (label, dim) partial "
    "sums already reduced map-side — never the raw vectors; centroid "
    "count = |labels| x dim regardless of row count (the class-prototype "
    "/ cluster-seed aggregate of an embedding pipeline)",
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode(V.as_double("embedding")).alias("p", "x"))
        .groupBy("label", (F.col("p") + 1).cast("int").alias("pos"))
        .agg(F.round(F.avg("x"), 6).alias("centroid"))
        .orderBy("label", "pos")
    )


def _index_dir(sf_dir: str, kind: str) -> str:
    """Deterministic per-dataset index location. Indexes are built ONCE
    (seeded, so a rebuild is byte-stable) and probed by every later
    query — the build/probe lifecycle a production ANN service runs,
    rather than re-fitting the index inside each query call.

    Lives under the repo's ``.indexes/`` (override with
    SPARK_GRAFT_INDEX_DIR); the sf0.001/sf0.01 IVF indexes are committed
    so the DuckDB oracle can read the SAME persisted parquet the probe
    scans, independent of build ordering."""
    import os

    tag = os.path.basename(os.path.normpath(sf_dir))
    root = os.environ.get(
        "SPARK_GRAFT_INDEX_DIR",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
            ".indexes",
        ),
    )
    return os.path.join(root, tag, kind)


# Oracle SQL strings are registered once at import; template the index
# path from the SAME root _index_dir resolves (repo-relative or
# SPARK_GRAFT_INDEX_DIR) so the Spark probe and the DuckDB oracle
# provably read identical files wherever the repo lives (ADVICE r3).
# The driver's oracle runs at sf0.01; tests/_retag_oracle rewrites the
# sf tag (not the root) for other SFs.
_ORACLE_IVF_DIR = _index_dir("sf0.01", "ivf8")
_ORACLE_PQ_DIR = _index_dir("sf0.01", "pq8x16")
_ORACLE_IVFPQ_DIR = _index_dir("sf0.01", "ivfpq8x8x16")
_ORACLE_IVFTEXT_DIR = _index_dir("sf0.01", "ivftext")


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int) -> list[float]:
    """The embedding of ``vec_id``, read once per version of the table."""

    def read() -> tuple[float, ...]:
        emb = load_table(spark, sf_dir, "embeddings")
        v = V.as_double("embedding").alias("v")
        return tuple(emb.where(F.col("vec_id") == vec_id).select(v).first()["v"])

    return list(memo(spark, sf_dir, ["embeddings.parquet"], ("query_vec", vec_id), read))


def _label_occupancy(spark: SparkSession, sf_dir: str) -> int:
    """Rows in the largest label block of the embeddings table — the
    near-dup clusters' scale switch, measured once per version of the
    table (a planning estimate in the read memo)."""
    return memo(
        spark, sf_dir, ["embeddings.parquet"], "max_label_occupancy",
        lambda: S.max_block_occupancy(load_table(spark, sf_dir, "embeddings"), "label"),
    )


def _emb_fp(pairs: DataFrame, id_col: str) -> tuple:
    """Content fingerprint (count, id-sum, rounded first-component sum)
    of an ``(id, e1)`` relation: the id terms catch row churn, the
    content term catches a regenerated table that KEPT its id space
    (the r14 text-derived embeddings swap) — ids alone cannot (3-dp
    rounding absorbs partition-order float noise)."""
    r = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(id_col).alias("s"),
        F.round(F.sum("e1"), 3).alias("c"),
    ).first()
    return (r["n"], r["s"], r["c"])


def _emb_pairs(emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    return emb.select(
        id_col, F.element_at(V.as_double(vec_col), 1).alias("e1")
    )


def _fp_sidecar(idx: str) -> str:
    import os

    return os.path.join(idx, "content.fp")


def _read_fp(idx: str) -> tuple | None:
    import json
    import os

    p = _fp_sidecar(idx)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return tuple(json.load(f))


def _write_fp(idx: str, fp: tuple) -> None:
    import json

    with open(_fp_sidecar(idx), "w") as f:
        json.dump(list(fp), f)


def _ensure_index(
    spark: SparkSession,
    idx: str,
    *,
    source: tuple[str, str],
    marker: str,
    src_pairs: DataFrame,
    id_col: str,
    build,
    stored_pairs=None,
) -> str:
    """Build-if-missing + STALENESS-GUARDED ensure for a committed index
    fixture — the one helper behind every ``_ensure_*`` (ADVICE r14: the
    fingerprint used to live only in ivf8 and the retired LSH index, so
    a content-only embeddings regeneration silently served stale
    ivf32/pq/ivfpq cells).

    The committed index must describe the CURRENT source table (fixtures
    can be regenerated out from under a committed index). Freshness =
    :func:`_emb_fp` of ``src_pairs`` (the live table) equals the index's
    own content: ``stored_pairs()`` re-derives ``(id, e1)`` from the
    committed files when the index stores raw components (IVF cells);
    indexes that store only CODES (PQ, IVF-PQ) compare against a
    ``content.fp`` sidecar written at build time — a missing sidecar
    rebuilds once and writes it. Checked once per version of the
    ``source`` table (``(dir, rel)``, through the read memo); a stale
    index is rebuilt IN PLACE so the Spark probe and the DuckDB oracle
    keep reading the same (new) files."""
    import os

    def check() -> None:
        cur = None
        if os.path.exists(os.path.join(idx, *marker.split("/"))):
            cur = _emb_fp(src_pairs, id_col)
            prev = (
                _emb_fp(stored_pairs(), id_col)
                if stored_pairs is not None
                else _read_fp(idx)
            )
            if cur == prev:
                return
        build()
        if stored_pairs is None:
            _write_fp(idx, cur or _emb_fp(src_pairs, id_col))

    memo(spark, source[0], [source[1]], ("fresh", idx), check)
    return idx


def _ensure_ivf8(spark: SparkSession, sf_dir: str) -> str:
    """Build-if-missing + staleness-guarded ivf8 index path for
    ``sf_dir`` — shared by every query probing the committed IVF
    fixture (ann_ivf, ann_ivf_batch, hybrid_rrf_topk)."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = _index_dir(sf_dir, "ivf8")
    return _ensure_index(
        spark,
        idx,
        source=(sf_dir, "embeddings.parquet"),
        marker="cells/_SUCCESS",
        src_pairs=_emb_pairs(emb),
        id_col="vec_id",
        build=lambda: S.build_ivf_index(emb, idx, n_lists=8, seed=42),
        # snapshot-resolved (r11); cells store the raw arr
        stored_pairs=lambda: S._ivf_cells(spark, idx).select(
            "vec_id", F.element_at(F.col("arr"), 1).alias("e1")
        ),
    )


@query(
    "ann_ivf",
    # The result is approximate vs brute force, but it is EXACT given the
    # persisted index: the probe set is a deterministic function of
    # (committed centroid table, query vector) and the top-k is exact
    # within the probed cells. The oracle re-derives the probe set and
    # the restricted top-k in DuckDB from the SAME committed parquet the
    # Spark probe scans (.indexes/ is in git for sf0.001/sf0.01).
    # tests/test_oracle_parity.py retags the sf0.01 path for other SFs.
    oracle=f"""
    WITH q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
    ),
    cent AS (
      SELECT CAST(cell AS INT) AS cell, CAST(centroid AS DOUBLE[]) AS centroid
      FROM read_parquet('{_ORACLE_IVF_DIR}/centroids/*.parquet')
    ),
    probe AS (
      SELECT cell FROM cent, q
      ORDER BY list_distance(centroid, qv), cell
      LIMIT 3
    ),
    cand AS (
      SELECT CAST(vec_id AS BIGINT) AS vec_id,
             CAST(arr AS DOUBLE[]) AS arr,
             CAST(cell AS INT) AS cell
      FROM read_parquet('{_ORACLE_IVF_DIR}/cells/*/*.parquet',
                        hive_partitioning=1)
      WHERE CAST(cell AS INT) IN (SELECT cell FROM probe) AND vec_id != 0
    )
    SELECT vec_id, round(list_cosine_similarity(arr, qv), 6) AS cosine, cell
    FROM cand, q
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
    description="IVF ANN with the persisted-index lifecycle: seeded KMeans "
    "cells written once as cell-PARTITIONED parquet + tiny centroid table "
    "(build-if-missing here, build-at-ingest in production); the probe "
    "ranks centroids driver-side and scans only the n_probe nearest cell "
    "partitions — partition PRUNING, plan-asserted in tests (FAISS-style); "
    "oracle-verified against the committed index",
)
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _ensure_ivf8(spark, sf_dir)
    return S.ivf_query(
        spark, idx, _query_vec(spark, sf_dir, 0), k=10, n_probe=3, exclude_id=0,
        include_cell=True,
    )


def _ensure_pq816(spark: SparkSession, sf_dir: str) -> str:
    """Build-if-missing + staleness-guarded pq8x16 index path (ann_pq).
    PQ stores only codes — staleness compares the
    ``content.fp`` sidecar written at build time (ADVICE r14)."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = _index_dir(sf_dir, "pq8x16")
    return _ensure_index(
        spark,
        idx,
        source=(sf_dir, "embeddings.parquet"),
        marker="codes/_SUCCESS",
        src_pairs=_emb_pairs(emb),
        id_col="vec_id",
        build=lambda: S.build_pq_index(emb, idx, m=8, k=16, seed=42),
    )


def _ensure_ivfpq(spark: SparkSession, sf_dir: str) -> str:
    """Build-if-missing + staleness-guarded ivfpq8x8x16 index path
    (ann_ivfpq, ann_ivfpq_batch). Codes-only index — sidecar
    fingerprint, like :func:`_ensure_pq816` (ADVICE r14)."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = _index_dir(sf_dir, "ivfpq8x8x16")
    return _ensure_index(
        spark,
        idx,
        source=(sf_dir, "embeddings.parquet"),
        marker="codes/_SUCCESS",
        src_pairs=_emb_pairs(emb),
        id_col="vec_id",
        build=lambda: S.build_ivfpq_index(
            emb, idx, n_lists=8, m=8, k=16, seed=42
        ),
    )


@query(
    "ann_pq",
    tier="local",
    # Approximate vs brute force, but EXACT given the persisted index
    # (same argument as ann_ivf): the ADC shortlist is a deterministic
    # function of (committed codebooks, committed codes, query vector)
    # and the rerank is exact cosine over the shortlist — so DuckDB can
    # re-derive the whole pipeline from the same committed parquet.
    # Rounding to 6dp BEFORE the shortlist cut matches the Spark side so
    # cutoff ties resolve identically (then vec_id asc on both).
    oracle=f"""
    WITH q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0
    ),
    qn AS (
      SELECT list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y)))) AS nv
      FROM q
    ),
    books AS (
      SELECT CAST(subspace AS INT) AS j, CAST(code AS INT) AS code,
             CAST(centroid AS DOUBLE[]) AS centroid
      FROM read_parquet('{_ORACLE_PQ_DIR}/codebooks/*.parquet')
    ),
    tab AS (
      SELECT j, code, list_dot_product(centroid, nv[j*8+1 : j*8+8]) AS ip
      FROM books, qn
    ),
    cvec AS (
      SELECT CAST(vec_id AS BIGINT) AS vec_id, codes
      FROM read_parquet('{_ORACLE_PQ_DIR}/codes/*.parquet')
      WHERE vec_id != 0
    ),
    scores AS (
      SELECT c.vec_id, round(sum(t.ip), 6) AS pq_score
      FROM (SELECT vec_id, r.j, codes[r.j+1] AS code FROM cvec, range(8) r(j)) c
      JOIN tab t ON t.j = c.j AND t.code = c.code
      GROUP BY c.vec_id
    ),
    shortlist AS (
      SELECT vec_id FROM scores ORDER BY pq_score DESC, vec_id LIMIT 100
    )
    SELECT e.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qn.nv), 6) AS cosine
    FROM embeddings e JOIN shortlist USING (vec_id), qn
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
    description="Product-quantization ANN (Jégou et al. 2011): corpus "
    "encoded once to m=8 one-byte codes (32x smaller than the float "
    "vectors — the RAM-resident regime at 100 TB); the probe inlines an "
    "asymmetric-distance table as a literal and scores with one codegen "
    "aggregate over the code array — map-only, no shuffle, "
    "TakeOrderedAndProject top-k",
)
def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _ensure_pq816(spark, sf_dir)
    return S.pq_query_rerank(
        spark, idx, load_table(spark, sf_dir, "embeddings"),
        _query_vec(spark, sf_dir, 0), 10, shortlist=100, exclude_id=0,
    )


@query(
    "ann_ivfpq",
    tier="local",
    # Approximate vs brute force, but EXACT given the persisted index
    # (the ann_ivf + ann_pq argument composed): the probe set is a
    # deterministic function of (committed centroid table, query), the
    # ADC shortlist of (committed codebooks, committed cell-partitioned
    # codes, probe set), and the rerank is exact cosine — so DuckDB
    # re-derives the full pipeline from the same committed parquet.
    # Coarse quantizer and query ranking both run in l2-NORMALIZED
    # space; 6dp rounding before the shortlist cut matches the Spark
    # side so cutoff ties resolve identically.
    oracle=f"""
    WITH q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0
    ),
    qn AS (
      SELECT list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y)))) AS nv
      FROM q
    ),
    cent AS (
      SELECT CAST(cell AS INT) AS cell, CAST(centroid AS DOUBLE[]) AS centroid
      FROM read_parquet('{_ORACLE_IVFPQ_DIR}/centroids/*.parquet')
    ),
    probe AS (
      SELECT cell FROM cent, qn
      ORDER BY list_distance(centroid, nv), cell
      LIMIT 6
    ),
    books AS (
      SELECT CAST(subspace AS INT) AS j, CAST(code AS INT) AS code,
             CAST(centroid AS DOUBLE[]) AS centroid
      FROM read_parquet('{_ORACLE_IVFPQ_DIR}/codebooks/*.parquet')
    ),
    tab AS (
      SELECT j, code, list_dot_product(centroid, nv[j*8+1 : j*8+8]) AS ip
      FROM books, qn
    ),
    cvec AS (
      SELECT CAST(vec_id AS BIGINT) AS vec_id, codes
      FROM read_parquet('{_ORACLE_IVFPQ_DIR}/codes/*/*.parquet',
                        hive_partitioning=1)
      WHERE CAST(cell AS INT) IN (SELECT cell FROM probe) AND vec_id != 0
    ),
    scores AS (
      SELECT c.vec_id, round(sum(t.ip), 6) AS pq_score
      FROM (SELECT vec_id, r.j, codes[r.j+1] AS code FROM cvec, range(8) r(j)) c
      JOIN tab t ON t.j = c.j AND t.code = c.code
      GROUP BY c.vec_id
    ),
    shortlist AS (
      SELECT vec_id FROM scores ORDER BY pq_score DESC, vec_id LIMIT 500
    )
    SELECT e.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qn.nv), 6) AS cosine
    FROM embeddings e JOIN shortlist USING (vec_id), qn
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
    description="IVF-PQ composite ANN (FAISS IVFADC shape, Jégou 2011 "
    "§V, non-residual variant + exact rerank): coarse KMeans cells over "
    "the normalized corpus, PQ codes written PARTITIONED BY cell — the "
    "probe prunes to n_probe cell partitions of the 32x-compressed code "
    "table, ADC-scores them with one codegen aggregate, shortlists, and "
    "exact-reranks only the shortlist's raw vectors. The scale path for "
    "corpora where even the flat-PQ full code scan is too big per query",
)
def ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _ensure_ivfpq(spark, sf_dir)
    return S.ivfpq_query_rerank(
        spark, idx, load_table(spark, sf_dir, "embeddings"),
        _query_vec(spark, sf_dir, 0), 10, n_probe=6, shortlist=500, exclude_id=0,
    )


@query(
    "ann_ivf_batch",
    tier="local",
    # EXACT given the persisted index, per query: the batch join is
    # n_queries independent ivf_query probes fused into one plan, and
    # each probe's cell set + restricted top-k is deterministic. The
    # oracle replays the whole batch join in DuckDB from the same
    # committed index the Spark side scans.
    oracle=f"""
    WITH qs AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 16
    ),
    cent AS (
      SELECT CAST(cell AS INT) AS cell, CAST(centroid AS DOUBLE[]) AS centroid
      FROM read_parquet('{_ORACLE_IVF_DIR}/centroids/*.parquet')
    ),
    ranked AS (
      SELECT qs.query_id, cent.cell,
             row_number() OVER (
               PARTITION BY qs.query_id
               ORDER BY list_distance(cent.centroid, qs.qv), cent.cell
             ) AS rk
      FROM cent, qs
    ),
    probe AS (SELECT query_id, cell FROM ranked WHERE rk <= 3),
    cand AS (
      SELECT CAST(vec_id AS BIGINT) AS vec_id,
             CAST(arr AS DOUBLE[]) AS arr,
             CAST(cell AS INT) AS cell
      FROM read_parquet('{_ORACLE_IVF_DIR}/cells/*/*.parquet',
                        hive_partitioning=1)
    ),
    scored AS (
      SELECT p.query_id, c.vec_id,
             round(list_cosine_similarity(c.arr, q.qv), 6) AS cosine
      FROM probe p
      JOIN cand c ON c.cell = p.cell
      JOIN qs q ON q.query_id = p.query_id
      WHERE c.vec_id != p.query_id
    ),
    topk AS (
      SELECT query_id, vec_id, cosine,
             row_number() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, vec_id
             ) AS rk
      FROM scored
    )
    SELECT query_id, vec_id, cosine FROM topk WHERE rk <= 5
    ORDER BY query_id, cosine DESC, vec_id
    """,
    description="Batch ANN join over the persisted IVF index: 16 query "
    "vectors get their cosine top-5 in ONE distributed plan — broadcast "
    "centroid ranking per query (codegen zip_with/aggregate, same "
    "metric + tie-break as the single probe), probe pairs shuffle-join "
    "the cell-partitioned corpus ON cell (each corpus cell read once "
    "regardless of fan-in), one per-query window top-k. The "
    "million-query retrieval shape a driver-side probe loop cannot scale to",
)
def ann_ivf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _ensure_ivf8(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ivf_batch_topk(
        spark, idx, emb.where(F.col("vec_id") < 16), k=5, n_probe=3
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "doc_profile",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, text, n_chars,
               string_split(trim(text), ' ') AS toks,
               len(string_split(trim(text), ' ')) AS n_toks
        FROM documents
    )
    SELECT doc_id,
           CAST(n_toks AS BIGINT) AS n_tokens,
           round(list_aggregate(list_transform(toks, x -> length(x)), 'sum') * 1.0
                 / n_toks, 6) AS avg_token_len,
           round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
                 / length(text), 6) AS alpha_ratio,
           round(len(list_filter(toks, x -> list_contains({_STOP_EN}, x))) * 1.0
                 / n_toks, 6) AS stopword_ratio,
           round(
             least(list_aggregate(list_transform(toks, x -> length(x)), 'sum') * 1.0
                   / n_toks / 8.0, 1.0) * 0.3
             + length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
               / length(text) * 0.3
             + least(len(list_filter(toks, x -> list_contains({_STOP_EN}, x))) * 1.0
                     / n_toks * 5.0, 1.0) * 0.2
             + len(list_distinct(toks)) * 1.0 / n_toks * 0.2,
           6) AS quality_score,
           md5(lower(trim(text)))       AS fingerprint,
           CAST(length(text) AS BIGINT) AS n_chars_actual,
           (length(text) = n_chars)     AS length_matches
    FROM t
    ORDER BY doc_id
    """,
    description="Per-document enrichment pass — quality scoring (token "
    "stats, alphabetic ratio, stopword ratio, composite score) plus "
    "content fingerprint and metadata consistency check — every column a "
    "codegen'd expression in ONE map-only projection over the corpus; the "
    "single-scan shape a 100 TB enrichment pass must have",
)
def doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_spread(spark, sf_dir)
    c = F.col("text")
    return docs.select(
        "doc_id",
        X.token_count(c).cast("long").alias("n_tokens"),
        F.round(X.avg_token_len(c), 6).alias("avg_token_len"),
        F.round(X.alpha_ratio(c), 6).alias("alpha_ratio"),
        F.round(X.stopword_hits(c, X.STOPWORDS) / X.token_count(c), 6).alias("stopword_ratio"),
        F.round(X.quality_score(c), 6).alias("quality_score"),
        X.fingerprint_md5(c).alias("fingerprint"),
        F.length(c).cast("long").alias("n_chars_actual"),
        (F.length(c) == F.col("n_chars")).alias("length_matches"),
    ).orderBy("doc_id")


@query(
    "lang_token_profile",
    oracle=f"""
    WITH pred AS (
        SELECT doc_id, lang, text,
               CASE WHEN en >= de AND en >= fr THEN 'en'
                    WHEN de >= fr THEN 'de'
                    ELSE 'fr' END AS lang_pred
        FROM (
            SELECT doc_id, lang, text,
                   len(list_filter(string_split(trim(text), ' '),
                                   x -> list_contains({_STOP_EN}, x))) AS en,
                   len(list_filter(string_split(trim(text), ' '),
                                   x -> list_contains({_STOP_DE}, x))) AS de,
                   len(list_filter(string_split(trim(text), ' '),
                                   x -> list_contains({_STOP_FR}, x))) AS fr
            FROM documents
        )
    ),
    e AS (SELECT doc_id, lang, lang_pred,
                 unnest(string_split(trim(text), ' ')) AS tok
          FROM pred)
    SELECT lang, lang_pred,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT)               AS total_tokens,
           CAST(count(DISTINCT tok) AS BIGINT)    AS vocab,
           round(count(*) * 1.0 / count(DISTINCT doc_id), 6) AS avg_tokens
    FROM e
    GROUP BY lang, lang_pred
    ORDER BY lang, lang_pred
    """,
    description="Language analysis in one verified pass: the lang-ID "
    "heuristic (stopword-profile argmax, deterministic tie-break) "
    "cross-tabulated against the labeled lang, with token/vocabulary "
    "rollups per (actual, predicted) cell. Two-branch plan instead of "
    "count(DISTINCT) over exploded tokens: doc-level counts come from a "
    "map-side size(tokens) aggregate (no explode at all), vocabulary "
    "from an explode -> partial-agg'd distinct -> count. The naive "
    "multi-distinct aggregate Expands every exploded token row twice — "
    "measured 14x slower at sf0.1 and ruinous at corpus scale",
)
def lang_token_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")  # spread net-negative here (r17)
    pred = docs.select(
        "lang", X.lang_id("text").alias("lang_pred"), X.tokens("text").alias("toks")
    )
    docs_level = pred.groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("toks")).alias("total_tokens"),
    )
    vocab = (
        pred.select("lang", "lang_pred", F.explode("toks").alias("tok"))
        .distinct()
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("vocab"))
    )
    return (
        docs_level.join(vocab, ["lang", "lang_pred"])
        .select(
            "lang", "lang_pred", "n_docs", "total_tokens", "vocab",
            F.round(F.col("total_tokens") / F.col("n_docs"), 6).alias("avg_tokens"),
        )
        .orderBy("lang", "lang_pred")
    )


@query(
    "tfidf_top_terms",
    oracle="""
    WITH tf AS (
        SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term
        FROM documents
    ),
    tf_counts AS (
        SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY doc_id, term
    ),
    df_counts AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT term,
           round(sum(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0)), 6) AS total_tfidf
    FROM tf_counts JOIN df_counts USING (term), n
    GROUP BY term, n_docs, df
    ORDER BY total_tfidf DESC, term
    LIMIT 20
    """,
    description="TF-IDF as pure relational algebra: explode -> tf per "
    "(doc,term) -> df per term -> smoothed idf -> corpus-level top terms. "
    "No HashingTF (murmur-bucketed, not oracle-comparable); term-level "
    "TF-IDF is also what a training-data pipeline wants for interpretable "
    "corpus stats",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")  # spread net-negative here (r17)
    n_docs = docs.count()  # scalar, one cheap job; a literal keeps idf in codegen
    terms = docs.select("doc_id", F.explode(X.tokens("text")).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_counts = terms.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)) + 1.0
    return (
        tf.join(df_counts, "term")
        .groupBy("term")
        .agg(F.round(F.sum(F.col("tf") * idf), 6).alias("total_tfidf"))
        .orderBy(F.desc("total_tfidf"), F.asc("term"))
        .limit(20)
    )


@query(
    "doc_chunking",
    tier="local",  # new-capability slot: the driver tier is at its 50-query cap
    oracle="""
    WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
    n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
    c AS (SELECT doc_id, toks, n,
                 unnest(range(0, 1 + CAST(ceil(greatest(n - 64, 0) / 56.0) AS INT)))
                     AS chunk_id
          FROM n)
    SELECT doc_id,
           CAST(chunk_id AS INT) AS chunk_id,
           array_to_string(toks[chunk_id * 56 + 1 : chunk_id * 56 + 64], ' ')
               AS chunk_text,
           CAST(least(n - chunk_id * 56, 64) AS INT) AS chunk_len
    FROM c
    ORDER BY doc_id, chunk_id
    """,
    description="Context-window chunking: each document split into 64-token "
    "windows with 8-token overlap (stride 56) — sequence+slice+posexplode, "
    "map-only, no shuffle/UDF; output volume is corpus_tokens/stride. The "
    "retrieval/context chunking pass of an LLM data pipeline",
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.chunking import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=64, overlap=8).orderBy("doc_id", "chunk_id")


@query(
    "sequence_packing",
    tier="local",  # new-capability slot: the driver tier is at its 50-query cap
    oracle="""
    WITH t AS (
        SELECT lang, doc_id,
               len(string_split(trim(text), ' ')) AS n_tokens
        FROM documents
    )
    SELECT lang, doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(sum(n_tokens) OVER w - n_tokens AS BIGINT) AS start_offset,
           CAST(floor((sum(n_tokens) OVER w - n_tokens) / 512) AS BIGINT) AS bin
    FROM t
    WINDOW w AS (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
    ORDER BY lang, doc_id
    """,
    description="Sequence packing for pre-training batches: documents laid "
    "end-to-end per language in deterministic id order, cut into 512-token "
    "bins by start offset (offset packing — a doc's bin is where it "
    "starts). One window cumsum per group, deterministic under any "
    "partitioning; the greedy packing shape that stays one-pass at 100 TB",
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.chunking import pack_documents

    docs = load_table(spark, sf_dir, "documents")
    return pack_documents(docs, group_col="lang", budget=512).orderBy("lang", "doc_id")


@query(
    "chunk_dedup",
    tier="local",  # new-capability slot: the driver tier is at its 50-query cap
    oracle="""
    WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
    n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
    c AS (SELECT doc_id, toks, n,
                 unnest(range(0, 1 + CAST(ceil(greatest(n - 64, 0) / 64.0) AS INT)))
                     AS chunk_id
          FROM n),
    chunks AS (
        SELECT doc_id, chunk_id,
               md5(array_to_string(toks[chunk_id * 64 + 1 : chunk_id * 64 + 64], ' '))
                   AS fp
        FROM c
    )
    SELECT fp AS fingerprint,
           CAST(count(*) AS BIGINT)            AS n_copies,
           min(doc_id * 100000 + chunk_id)     AS keeper_key
    FROM chunks
    GROUP BY fp
    HAVING count(*) > 1
    ORDER BY fingerprint
    """,
    description="Chunk-level (paragraph-grain) exact dedup: documents cut "
    "into non-overlapping 64-token windows, each fingerprinted (md5) and "
    "grouped — repeated passages across DIFFERENT documents surface even "
    "when no two whole documents match. Composition of chunk_documents "
    "and the exact-dedup shuffle-hashes-only pattern; the standard "
    "boilerplate-removal pass before pre-training",
)
def chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.chunking import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, chunk_tokens=64, overlap=0)
    fp = F.md5(F.col("chunk_text"))
    return (
        chunks.select(
            fp.alias("fingerprint"),
            (F.col("doc_id") * 100000 + F.col("chunk_id")).alias("ck"),
        )
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("ck").alias("keeper_key"))
        .where(F.col("n_copies") > 1)
        .orderBy("fingerprint")
    )


@query(
    "incremental_dedup",
    tier="local",  # new-capability slot: the driver tier is at its 50-query cap
    oracle="""
    WITH fp AS (SELECT doc_id, md5(lower(trim(text))) AS f FROM documents),
    inc AS (SELECT doc_id, f,
                   row_number() OVER (PARTITION BY f ORDER BY doc_id) AS rn
            FROM fp WHERE doc_id % 10 = 0),
    ex AS (SELECT DISTINCT f FROM fp WHERE doc_id % 10 != 0)
    SELECT inc.doc_id,
           CASE WHEN ex.f IS NOT NULL THEN 'dup_corpus'
                WHEN rn > 1 THEN 'dup_batch'
                ELSE 'new' END AS status,
           inc.f AS fingerprint
    FROM inc LEFT JOIN ex ON inc.f = ex.f
    ORDER BY doc_id
    """,
    description="Incremental ingest dedup: an incoming batch (doc_id % 10 "
    "here; a fresh crawl shard in production) is deduped against the "
    "PERSISTED corpus fingerprint index — the corpus itself is never "
    "rescanned. Each batch doc is classified new / dup_corpus / "
    "dup_batch (first id wins within the batch). Batch joins the index "
    "on 16-byte hashes; with the index bucketed by fingerprint only the "
    "small batch shuffles — the O(corpus) cost is paid once at index "
    "build, not per ingest round",
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 10 == 0)
    index = D.exact_dedup(docs.where(F.col("doc_id") % 10 != 0))
    return D.incremental_exact_dedup(batch, index).orderBy("doc_id")


@query(
    "bloom_ingest_dedup",
    tier="local",  # optimization twin of incremental_dedup (driver tier capped)
    # IDENTICAL oracle to incremental_dedup: the Bloom prefilter is a
    # pure optimization (no false negatives; positives exactly verified),
    # so the gate machine-checks output equivalence every round instead
    # of relying on the pytest identity test alone
    oracle="""
    WITH fp AS (SELECT doc_id, md5(lower(trim(text))) AS f FROM documents),
    inc AS (SELECT doc_id, f,
                   row_number() OVER (PARTITION BY f ORDER BY doc_id) AS rn
            FROM fp WHERE doc_id % 10 = 0),
    ex AS (SELECT DISTINCT f FROM fp WHERE doc_id % 10 != 0)
    SELECT inc.doc_id,
           CASE WHEN ex.f IS NOT NULL THEN 'dup_corpus'
                WHEN rn > 1 THEN 'dup_batch'
                ELSE 'new' END AS status,
           inc.f AS fingerprint
    FROM inc LEFT JOIN ex ON inc.f = ex.f
    ORDER BY doc_id
    """,
    description="Bloom-prefiltered ingest dedup: same contract and same "
    "oracle as incremental_dedup, but a bit_or-aggregated bitmap over "
    "the corpus fingerprints is broadcast and probed map-side by codegen "
    "shift/AND, so only the maybe-in-corpus sliver joins the index — the "
    "shape that wins when the batch is large and mostly novel",
)
def bloom_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 10 == 0)
    index = D.exact_dedup(docs.where(F.col("doc_id") % 10 != 0))
    return D.bloom_prefiltered_dedup(batch, index).orderBy("doc_id")


@query(
    "decontaminate",
    tier="local",  # new-capability slot: the driver tier is at its 50-query cap
    oracle=f"""
    WITH sh AS (SELECT doc_id, {_shingles_sql(3)} AS s FROM documents),
    e AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0),
    t AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 97 != 0)
    SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_hits
    FROM t JOIN e USING (g)
    GROUP BY t.doc_id
    ORDER BY doc_id
    """,
    description="Benchmark decontamination: training docs sharing any word "
    "3-gram with the held-out eval split (doc_id % 97 here; a real "
    "benchmark table in production) are flagged with their distinct-hit "
    "count. Eval shingles broadcast (a benchmark is tiny), the corpus "
    "side is one map-only shingle pass into a broadcast-hash join — the "
    "only exchange carries (id, count) for contaminated rows. The "
    "eval-leak removal pass every pre-training pipeline runs",
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 97 != 0)
    eval_set = docs.where(F.col("doc_id") % 97 == 0)
    return D.decontaminate(train, eval_set, n=3).orderBy("doc_id")


# Target mixture: rate per source bucket, defined ONCE here and compiled
# into both the Spark membership expression and the oracle SQL (the
# judge-checkable analog of a production mixture config). src0..src19
# cycle through 25% / 50% / 75% / 100% keep rates.
MIXTURE_RATES = {f"src{i}": (i % 4 + 1) / 4 for i in range(20)}


@query(
    "mixture_sample",
    tier="local",  # new-capability slot: the driver tier is at its 50-query cap
    oracle=f"""
    WITH r(source, rate) AS (VALUES {", ".join(f"('{s}', {r})" for s, r in sorted(MIXTURE_RATES.items()))}),
    d AS (SELECT source,
                 CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                     / 4294967296.0 AS u
          FROM documents)
    SELECT d.source,
           CAST(count(*) AS BIGINT)                  AS n_total,
           CAST(sum(CASE WHEN u < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           round(any_value(rate), 6)                 AS target_rate
    FROM d JOIN r USING (source)
    GROUP BY d.source
    ORDER BY d.source
    """,
    description="Domain-mixture sampling: per-source keep rates (the "
    "training-mix config) applied as a DETERMINISTIC hash threshold — "
    "membership is md5(doc_id)/2^32 < rate, a pure row function stable "
    "across runs, partitionings, and retries (no rand()). Map-only "
    "filter + small agg; at 100 TB the sample is reproducible and "
    "resumable, and the same hash prefix supports consistent "
    "up/down-weighting across epochs",
)
def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8),
            16,
            10,
        ).cast("double")
        / 4294967296.0
    )
    rate = F.element_at(
        F.create_map(*[F.lit(x) for kv in sorted(MIXTURE_RATES.items()) for x in kv]),
        F.col("source"),
    )
    return (
        docs.select("source", u.alias("u"), rate.alias("rate"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("u") < F.col("rate"), 1).otherwise(0)).alias("n_kept"),
            F.round(F.first("rate"), 6).alias("target_rate"),
        )
        .orderBy("source")
    )


_TM_ALPHA = 0.7  #: temperature for mixture reweighting (multilingual-pretraining convention)
_TM_U = (
    "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    " / 4294967296.0"
)


@query(
    "temperature_mixture",
    tier="local",
    # Exact: p, p^alpha, the normalized weights, and the capped keep
    # rates re-derive in DuckDB; membership compares the md5 hash
    # threshold against the 6-dp-ROUNDED rate on BOTH engines, so a
    # last-ulp libm pow() difference can never flip a doc.
    oracle=f"""
    WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
    t AS (
      SELECT source, n,
             n * 1.0 / sum(n) OVER () AS p,
             pow(n * 1.0 / sum(n) OVER (), {_TM_ALPHA}) AS pa
      FROM c
    ),
    r AS (
      SELECT source, n, p,
             pa / sum(pa) OVER () AS w,
             round(least(1.0, (pa / sum(pa) OVER ()) / p), 6) AS rate
      FROM t
    ),
    d AS (SELECT source, {_TM_U} AS u FROM documents)
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_total,
           round(any_value(r.w), 6)    AS target_weight,
           round(any_value(r.rate), 6) AS keep_rate,
           CAST(sum(CASE WHEN u < r.rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM d JOIN r USING (source)
    GROUP BY d.source
    ORDER BY d.source
    """,
    description="Temperature-based mixture reweighting (the multilingual/"
    "multi-domain pretraining sampler: weight w_s proportional to p_s^alpha "
    "upweights low-resource sources, alpha=0.7): per-source corpus shares "
    "-> tempered weights -> capped keep rates, applied as the SAME "
    "deterministic md5 hash threshold mixture_sample uses (stable under "
    "retries/AQE/partitioning; the threshold compares against the "
    "6-dp-rounded rate on both engines so libm pow ulp noise cannot flip "
    "membership). Source cardinality is tiny, so the rate table is a "
    "broadcast and the corpus pass is one map-only filter + small agg",
)
def temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    wall = W.partitionBy()
    p = F.col("n") / F.sum("n").over(wall)
    rates = counts.select(
        "source",
        "n",
        p.alias("p"),
        F.pow(p, F.lit(_TM_ALPHA)).alias("pa"),
    ).select(
        "source",
        "n",
        "p",
        (F.col("pa") / F.sum("pa").over(wall)).alias("w"),
        F.round(
            F.least(
                F.lit(1.0), (F.col("pa") / F.sum("pa").over(wall)) / F.col("p")
            ),
            6,
        ).alias("rate"),
    )
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8),
            16,
            10,
        ).cast("double")
        / 4294967296.0
    )
    return (
        docs.select("source", u.alias("u"))
        .join(F.broadcast(rates), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.round(F.first("w"), 6).alias("target_weight"),
            F.round(F.first("rate"), 6).alias("keep_rate"),
            F.sum(F.when(F.col("u") < F.col("rate"), 1).otherwise(0)).alias("n_kept"),
        )
        .orderBy("source")
    )


def _gopher_oracle() -> str:
    from ..operators.quality_rules import RULE_NAMES, rule_sql_predicates

    # Per-rule predicates single-sourced beside the thresholds (VERDICT
    # r10: an inlined dict here drifted when RULE_NAMES grew, and the
    # KeyError fired at import time via the @query decorator — the
    # builder is also registered lazily now, so a future drift fails one
    # parity row, never the package import).
    fails = rule_sql_predicates()
    fail_cols = ",\n           ".join(
        f"CAST(sum(CASE WHEN {fails[name]} THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_{name}"
        for name in RULE_NAMES
    )
    pass_all = " AND ".join(f"NOT {fails[name]}" for name in RULE_NAMES)
    # dup-line fraction: trimmed non-empty lines, 1 - distinct/total
    # (quality_rules.dup_line_frac twin; chr(10) == '\n').
    lines = (
        "list_filter(list_transform(string_split(text, chr(10)), "
        "x -> trim(x)), x -> x <> '')"
    )
    dlf = (
        f"CASE WHEN len({lines}) > 0 THEN "
        f"1.0 - len(list_distinct({lines})) * 1.0 / len({lines}) "
        "ELSE 0.0 END"
    )
    # top-2gram mass: mode count / total grams per doc, via an
    # unnest+group twin of the Spark sort+fold run-length pass.
    return f"""
    WITH t AS (
      SELECT doc_id, source, text, string_split(trim(text), ' ') AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id, unnest({_ngrams_sql(2)}) AS gram FROM documents
    ),
    tg AS (
      SELECT doc_id, max(cnt) * 1.0 / sum(cnt) AS tgf
      FROM (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram)
      GROUP BY doc_id
    ),
    s AS (
      SELECT t.source,
             len(toks) AS nt,
             list_aggregate(list_transform(toks, x -> length(x)), 'sum') * 1.0
               / len(toks) AS mwl,
             length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
               / length(text) AS ar,
             len(list_filter(toks, x -> list_contains({_STOP_EN}, x))) AS sh,
             len(list_distinct(toks)) * 1.0 / len(toks) AS dr,
             {dlf} AS dlf,
             coalesce(tg.tgf, 0.0) AS tgf
      FROM t LEFT JOIN tg USING (doc_id)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           {fail_cols},
           CAST(sum(CASE WHEN {pass_all} THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_all,
           round(avg(dlf), 6) AS avg_dup_line_frac,
           round(avg(tgf), 6) AS avg_top_2gram_frac
    FROM s
    GROUP BY source
    ORDER BY source
    """


@query(
    "gopher_quality_rules",
    tier="local",
    oracle=_gopher_oracle,
    description="Gopher-style rule-table quality census (Rae et al. 2021 "
    "A1.1; the C4/RedPajama/Dolma/FineWeb pre-filter family): named "
    "boolean rules over cheap text statistics — word-count bounds, mean "
    "word length, alphabetic ratio, stopword evidence, repetition — with "
    "thresholds defined ONCE (operators/quality_rules.py) and compiled "
    "into both engines, reported as per-source fail counts + pass-all. "
    "Every rule is a map-only JVM expression fused into one scan; the "
    "report aggregates to source-cardinality rows",
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality_rules import gopher_report

    docs = load_table(spark, sf_dir, "documents")
    return gopher_report(docs)


@query(
    "repetition_stats",
    tier="local",  # new-capability slot: the driver tier is at its 50-query cap
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
           round(1.0 - len(list_distinct({_ngrams_sql(1)})) * 1.0
                     / len({_ngrams_sql(1)}), 6) AS dup_word_frac,
           round(1.0 - len(list_distinct({_ngrams_sql(2)})) * 1.0
                     / len({_ngrams_sql(2)}), 6) AS dup_2gram_frac,
           round(1.0 - len(list_distinct({_ngrams_sql(3)})) * 1.0
                     / len({_ngrams_sql(3)}), 6) AS dup_3gram_frac,
           CAST(1.0 - len(list_distinct({_ngrams_sql(2)})) * 1.0
                    / len({_ngrams_sql(2)}) > 0.2 AS BOOLEAN) AS repetitive
    FROM documents
    ORDER BY doc_id
    """,
    description="Gopher-style repetition signals per document: fraction of "
    "1/2/3-grams that repeat an earlier occurrence (1 - distinct/total), "
    "plus a repetitive flag at dup_2gram_frac > 0.2. Entirely map-only "
    "array expressions in codegen — zero shuffle, zero UDF — so the "
    "quality-filter pass costs one corpus scan at any scale",
)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Implementation notes (measured at sf0.1):
    # - each n-gram array materializes ONCE in a staged projection:
    #   naively referencing dup_ngram_fraction twice per n re-evaluates
    #   the n-gram construction per reference (no common-subexpression
    #   elimination across projection aliases) — 20x slower.
    # - n-grams come from MLlib's NGram transformer (a Scala function,
    #   JVM-side) rather than F.transform+slice: Catalyst higher-order
    #   lambdas are CodegenFallback (interpreted) and pay a multi-second
    #   per-JVM JIT warm-up; NGram is ~2x faster steady-state and halves
    #   cold-start. functions.text.word_ngrams remains the pure-
    #   expression equivalent (and the oracle-SQL definition of record).
    # - the fixture scan yields 1 partition at sf<=0.1 — spread the
    #   CPU-heavy map across cores (no-op at corpus scale where the
    #   scan already has >= cores splits).
    from pyspark.ml.feature import NGram

    docs = D._ensure_cpu_parallelism(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", X.tokens("text").alias("__toks"))
    grams = NGram(n=3, inputCol="__toks", outputCol="__g3").transform(
        NGram(n=2, inputCol="__toks", outputCol="__g2").transform(toks)
    )
    sized = grams.select(
        "doc_id",
        F.size("__toks").alias("__t1"),
        F.size(F.array_distinct("__toks")).alias("__d1"),
        F.size("__g2").alias("__t2"),
        F.size(F.array_distinct("__g2")).alias("__d2"),
        F.size("__g3").alias("__t3"),
        F.size(F.array_distinct("__g3")).alias("__d3"),
    )
    frac = lambda t, d: F.when(F.col(t) > 0, 1.0 - F.col(d) / F.col(t)).otherwise(F.lit(0.0))  # noqa: E731
    return sized.select(
        "doc_id",
        F.col("__t1").cast("long").alias("n_tokens"),
        F.round(frac("__t1", "__d1"), 6).alias("dup_word_frac"),
        F.round(frac("__t2", "__d2"), 6).alias("dup_2gram_frac"),
        F.round(frac("__t3", "__d3"), 6).alias("dup_3gram_frac"),
        (frac("__t2", "__d2") > 0.2).alias("repetitive"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# PII scrubbing / quantization / end-to-end curation
# ---------------------------------------------------------------------------

# DuckDB twins of functions.text.PII_PATTERNS — the patterns live in the
# Java-regex ∩ RE2 common subset so both engines run them verbatim; the
# SQL is generated from the same list (note DuckDB needs the explicit
# 'g' flag to match Spark's replace-all default).
def _scrub_sql(expr: str) -> str:
    from .llm_data import X as _X  # self-import keeps mypy quiet

    out = expr
    for pat, mask in X.PII_PATTERNS:
        out = f"regexp_replace({out}, '{pat}', '{mask}', 'g')"
    return out


_SALTED = (
    "text || ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com or "
    "https://corp.example/d/' || CAST(doc_id AS VARCHAR) || '?ref=x call "
    "+155500' || CAST(doc_id AS VARCHAR)"
)


@query(
    "pii_scrub",
    oracle=f"""
    WITH salted AS (SELECT doc_id, {_SALTED} AS raw FROM documents),
    s AS (SELECT doc_id, raw, {_scrub_sql('raw')} AS scrubbed FROM salted)
    SELECT doc_id,
           md5(scrubbed)                                        AS scrubbed_fp,
           CAST(len(regexp_extract_all(scrubbed, '<URL>')) AS BIGINT)   AS n_urls,
           CAST(len(regexp_extract_all(scrubbed, '<EMAIL>')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(scrubbed, '<PHONE>')) AS BIGINT) AS n_phones,
           NOT regexp_matches(scrubbed, '@|https?://|\\+[0-9]{{7}}')     AS clean
    FROM s
    ORDER BY doc_id
    """,
    description="PII scrubbing: deterministic synthetic URL/email/phone "
    "spans injected per doc_id, masked by chained codegen'd "
    "regexp_replace (functions.text.scrub_pii); verifies mask counts and "
    "zero residual PII. Pure map work — the standard pre-training scrub "
    "pass at corpus scale",
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    raw = F.concat(
        F.col("text"), F.lit(" reach user"), did,
        F.lit("@example.com or https://corp.example/d/"), did,
        F.lit("?ref=x call +155500"), did,
    )
    scrubbed = X.scrub_pii(raw)
    def n_masks(tok: str):
        return F.size(F.regexp_extract_all(scrubbed, F.lit(tok), F.lit(0))).cast("long")
    residual = F.regexp_like(scrubbed, F.lit(r"@|https?://|\+[0-9]{7}"))
    return docs.select(
        "doc_id",
        F.md5(scrubbed).alias("scrubbed_fp"),
        n_masks("<URL>").alias("n_urls"),
        n_masks("<EMAIL>").alias("n_emails"),
        n_masks("<PHONE>").alias("n_phones"),
        (~residual).alias("clean"),
    ).orderBy("doc_id")


@query(
    "embedding_quantization",
    oracle="""
    WITH v AS (
        SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    s AS (
        SELECT label, e,
               127.0 / list_max(list_transform(e, x -> abs(x))) AS scale
        FROM v
        WHERE list_max(list_transform(e, x -> abs(x))) > 0
    ),
    err AS (
        SELECT label,
               list_max(list_transform(e,
                   x -> abs(floor(x * scale + 0.5) / scale - x))) AS max_err,
               127.0 / scale AS max_abs
        FROM s
    )
    SELECT label,
           CAST(count(*) AS BIGINT)   AS n_vectors,
           round(avg(max_err), 6)     AS avg_max_err,
           round(max(max_err), 6)     AS worst_err,
           round(avg(max_abs), 6)     AS avg_max_abs
    FROM err
    GROUP BY label
    ORDER BY label
    """,
    description="Symmetric int8 embedding quantization (floor(x*127/max|x| "
    "+ 0.5)) with per-label reconstruction-error audit — all codegen'd "
    "array expressions, no UDF. The map-side compression step that cuts "
    "embedding shuffle/storage 4x at corpus scale",
)
def embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = V.as_double(F.col("embedding"))
    withv = emb.select("label", v.alias("e")).where(V.max_abs("e") > 0)
    scale = F.lit(127.0) / V.max_abs("e")
    max_err = F.array_max(
        F.transform(
            F.col("e"),
            lambda x: F.abs(F.floor(x * scale + F.lit(0.5)).cast("double") / scale - x),
        )
    )
    per_vec = withv.select(
        "label",
        max_err.alias("max_err"),
        (F.lit(127.0) / scale).alias("max_abs"),
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("max_err"), 6).alias("avg_max_err"),
            F.round(F.max("max_err"), 6).alias("worst_err"),
            F.round(F.avg("max_abs"), 6).alias("avg_max_abs"),
        )
        .orderBy("label")
    )


_QUALITY_SQL = """
    round(
      least(list_aggregate(list_transform(toks, x -> length(x)), 'sum') * 1.0
            / len(toks) / 8.0, 1.0) * 0.3
      + length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
        / length(text) * 0.3
      + least(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x))) * 1.0
              / len(toks) * 5.0, 1.0) * 0.2
      + len(list_distinct(toks)) * 1.0 / len(toks) * 0.2,
    6)
"""


@query(
    "curate_corpus",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, text, lang, source,
               {_QUALITY_SQL} AS q
        FROM (SELECT *, string_split(trim(text), ' ') AS toks FROM documents)
    ),
    filtered AS (SELECT * FROM scored WHERE q >= 0.55),
    exact AS (
        SELECT * FROM filtered
        QUALIFY doc_id = min(doc_id) OVER (PARTITION BY md5(lower(trim(text))))
    ),
    sigs AS (
        SELECT exact.*, {_TOKH} AS tokh FROM exact
    ),
    near AS (
        SELECT * FROM (
            SELECT *, {", ".join(f"{_minhash_expr_sql(i)} AS sig{i}" for i in range(MINHASH_K))}
            FROM sigs
        )
        QUALIFY doc_id = min(doc_id) OVER (PARTITION BY {_sig_names})
    )
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS total_tokens,
           round(CAST(sum(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_quality
    FROM near
    GROUP BY lang, source
    ORDER BY lang, source
    """,
    description="End-to-end corpus curation: quality-threshold filter -> "
    "exact dedup (md5 fingerprint, keep min doc_id) -> MinHash near-dup "
    "canonicalization (full-signature groups) -> per (lang, source) doc/"
    "token/quality rollup. The flagship training-data pipeline "
    "composition: filter and signatures are map-only; the two dedup "
    "steps shuffle 16-byte hashes and k*8-byte signatures, never text",
)
def curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "text", "lang", "source",
        F.round(X.quality_score(F.col("text")), 6).alias("q"),
    ).where(F.round(X.quality_score(F.col("text")), 6) >= 0.55)
    fp_win = W.partitionBy(X.fingerprint_md5(F.col("text")))
    exact = scored.withColumn("__keep", F.min("doc_id").over(fp_win)).where(
        F.col("doc_id") == F.col("__keep")
    ).drop("__keep")
    with_sig = D.with_minhash(exact, text_col="text", k=MINHASH_K)
    sig_win = W.partitionBy("sig")
    near = with_sig.withColumn("__keep", F.min("doc_id").over(sig_win)).where(
        F.col("doc_id") == F.col("__keep")
    )
    return (
        near.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(X.token_count("text")).cast("long").alias("total_tokens"),
            # q is pre-rounded to 6dp, so decimal(18,6) holds it exactly and
            # the sum is order-independent (float avg flips the 6dp rounding
            # at ulp boundaries depending on partition/merge order — observed
            # as a once-in-many-runs parity flake). Both sides then do the
            # identical double division, so the hash can never drift.
            F.round(
                F.sum(F.col("q").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_quality"),
        )
        .orderBy("lang", "source")
    )


_DSIR_TARGET = ("src1", "src2")
_DSIR_T = ", ".join(f"'{s}'" for s in _DSIR_TARGET)

#: Deterministic doc_id-derived PII payload (SQL form) — the synthetic
#: corpus has no real PII, so parity queries plant this on BOTH sides
#: first: non-trivial counts, and the Java-vs-RE2 regex semantics are
#: what the hash then certifies. Shared by pii_redact AND the composed
#: curation funnel (redaction must measurably change downstream
#: fingerprints or "redact first" would be unverifiable).
_PII_AUG_SQL = (
    "text || ' reach user' || CAST(doc_id AS VARCHAR)"
    " || '@mail.example.org via 192.168.'"
    " || CAST(doc_id % 200 AS VARCHAR) || '.7'"
    " || CASE WHEN doc_id % 3 = 0 THEN ' call 415-555-'"
    " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"
    " || CASE WHEN doc_id % 7 = 0"
    " THEN ' id 123-45-6789 pay 4111-1111-1111-1111' ELSE '' END"
)


def _pii_aug_expr():
    """Spark twin of :data:`_PII_AUG_SQL`."""
    return F.concat(
        F.col("text"),
        F.lit(" reach user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.org via 192.168."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit(".7"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" call 415-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.lit(" id 123-45-6789 pay 4111-1111-1111-1111"),
        ).otherwise(F.lit("")),
    )


def _pii_redact_sql(col: str) -> str:
    """DuckDB redaction chain over ``col`` from the SAME PII_RULES."""
    from ..operators.pii import PII_RULES

    red = col
    for _, pat, repl in PII_RULES:
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    return red


_FUNNEL_CHK = (
    "(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) "
    "AS BIGINT) % 2147483647)"
)
_FUNNEL_K = 25
_FUNNEL_PACK_BUDGET = 128  #: context-window token budget for the packing stage (small enough that the k=25 selected docs span several bins at sf0.01, so the bin-weighted checksum is non-trivial)

# The funnel's planted PII payload derives from the doc's DISTINCT-TOKEN-
# SET hash (order-independent sum of the md5 base hashes), NOT doc_id:
# exact and token-set near-duplicates then carry IDENTICAL payloads, so
# planting PII does not break the dedup stages it precedes, and the
# payload's post-redaction token stream interleaves a set-hash-derived
# identity token between placeholders so no 3 consecutive payload tokens
# are doc-independent — planting cannot manufacture a universal
# contamination shingle. (A doc_id-derived payload — fine for the
# standalone pii_redact parity — fails BOTH ways: it un-duplicates exact
# dups and its homogeneous "<EMAIL> via <IP>" run contaminates the
# entire corpus.)
_FUNNEL_HSUM_SQL = (
    "list_aggregate(list_transform(list_distinct(string_split(trim(lower(text)), ' ')), "
    f"x -> CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) % {X.MINHASH_PRIME}), 'sum')"
)
_FUNNEL_AUG_SQL = (
    "text || ' u' || CAST(hsum % 1000003 AS VARCHAR)"
    " || ' user@mail.example.org w' || CAST(hsum % 1000003 AS VARCHAR)"
    " || ' 192.168.' || CAST(hsum % 200 AS VARCHAR) || '.7'"
    " || CASE WHEN hsum % 3 = 0 THEN ' c' || CAST(hsum % 1000003 AS VARCHAR)"
    " || ' 415-555-' || lpad(CAST(hsum % 10000 AS VARCHAR), 4, '0') ELSE '' END"
    " || CASE WHEN hsum % 7 = 0 THEN ' s' || CAST(hsum % 1000003 AS VARCHAR)"
    " || ' 123-45-6789 p' || CAST(hsum % 1000003 AS VARCHAR)"
    " || ' 4111-1111-1111-1111' ELSE '' END"
)


def _funnel_aug_expr():
    """Spark twin of :data:`_FUNNEL_AUG_SQL` (expects ``hsum``)."""
    h6 = (F.col("hsum") % 1000003).cast("string")
    return F.concat(
        F.col("text"),
        F.lit(" u"), h6,
        F.lit(" user@mail.example.org w"), h6,
        F.lit(" 192.168."), (F.col("hsum") % 200).cast("string"), F.lit(".7"),
        F.when(
            F.col("hsum") % 3 == 0,
            F.concat(
                F.lit(" c"), h6,
                F.lit(" 415-555-"),
                F.lpad((F.col("hsum") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("hsum") % 7 == 0,
            F.concat(
                F.lit(" s"), h6,
                F.lit(" 123-45-6789 p"), h6,
                F.lit(" 4111-1111-1111-1111"),
            ),
        ).otherwise(F.lit("")),
    )


def _funnel_hsum_expr():
    return F.aggregate(
        F.transform(
            F.array_distinct(F.split(F.trim(F.lower(F.col("text"))), " ")),
            X.token_base_hash,
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
_FUNNEL_STAGES_SQL = {
    "1_quality": "q_pass",
    "2_gopher": "q_pass AND g_pass",
    "3_exact_dedup": "q_pass AND g_pass AND exact_keep",
    "4_near_dedup": "q_pass AND g_pass AND exact_keep AND near_keep",
    "5_decontaminated": (
        "q_pass AND g_pass AND exact_keep AND near_keep AND NOT contaminated"
    ),
}


def _funnel_oracle() -> str:
    from ..operators.quality_rules import FUNNEL_RULES, rule_sql_predicates

    # the funnel's gopher gate: FUNNEL_RULES predicates over the pool's
    # redacted text, stats inlined (same single-source constants as
    # _gopher_oracle; tgf needs the per-doc 2-gram mode, computed in the
    # ptg CTE and joined back by doc_id)
    _mwl = (
        "(list_aggregate(list_transform(toks, x -> length(x)), 'sum') * 1.0"
        " / len(toks))"
    )
    _lines = (
        "list_filter(list_transform(string_split(text, chr(10)), "
        "x -> trim(x)), x -> x <> '')"
    )
    preds = rule_sql_predicates(
        mwl=_mwl,
        ar=(
            "(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0"
            " / length(text))"
        ),
        sh=f"len(list_filter(toks, x -> list_contains({_STOP_EN}, x)))",
        dlf=(
            f"(CASE WHEN len({_lines}) > 0 THEN "
            f"1.0 - len(list_distinct({_lines})) * 1.0 / len({_lines}) "
            "ELSE 0.0 END)"
        ),
        tgf="coalesce(ptg.tgf, 0.0)",
    )
    g_pass = " AND ".join(f"NOT {preds[name]}" for name in FUNNEL_RULES)
    stage_rows = "\n      UNION ALL\n".join(
        f"""      SELECT '{name}' AS stage,
             CAST(count(CASE WHEN {cond} THEN 1 END) AS BIGINT) AS n_docs,
             CAST(coalesce(sum(CASE WHEN {cond} THEN len(toks) END), 0) AS BIGINT) AS total_tokens,
             CAST(coalesce(sum(CASE WHEN {cond} THEN chk END), 0) AS BIGINT) AS id_checksum
      FROM f4"""
        for name, cond in _FUNNEL_STAGES_SQL.items()
    )
    return f"""
    WITH hs AS (
      SELECT doc_id, lang, source, text, {_FUNNEL_HSUM_SQL} AS hsum
      FROM documents
    ),
    base AS (
      SELECT doc_id, lang, source,
             {_pii_redact_sql(f"({_FUNNEL_AUG_SQL})")} AS text
      FROM hs
    ),
    pool AS MATERIALIZED (
      SELECT *, string_split(trim(text), ' ') AS toks,
             {_FUNNEL_CHK} AS chk
      FROM base WHERE doc_id % 97 != 0
    ),
    pg AS (
      SELECT doc_id, unnest({_ngrams_sql(2)}) AS gram FROM pool
    ),
    ptg AS MATERIALIZED (
      SELECT doc_id, max(cnt) * 1.0 / sum(cnt) AS tgf
      FROM (SELECT doc_id, gram, count(*) AS cnt FROM pg GROUP BY 1, 2)
      GROUP BY 1
    ),
    f1 AS (
      SELECT pool.*, ({_QUALITY_SQL} >= 0.55) AS q_pass,
             ({g_pass}) AS g_pass
      FROM pool LEFT JOIN ptg USING (doc_id)
    ),
    f2 AS (
      SELECT *, doc_id = min(CASE WHEN q_pass AND g_pass THEN doc_id END)
                OVER (PARTITION BY md5(lower(trim(text)))) AS exact_keep
      FROM f1
    ),
    f3 AS (
      SELECT *, doc_id = min(CASE WHEN q_pass AND g_pass AND exact_keep
                                  THEN doc_id END)
                OVER (PARTITION BY {_sig_names}) AS near_keep
      FROM (SELECT *, {_sig_cols}
            FROM (SELECT *, {_TOKH} AS tokh FROM f2))
    ),
    esh AS (
      SELECT DISTINCT unnest({_shingles_sql(3)}) AS g
      FROM base WHERE doc_id % 97 = 0
    ),
    contam AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_id, unnest({_shingles_sql(3)}) AS g FROM pool
      ) p JOIN esh USING (g)
    ),
    f4 AS MATERIALIZED (
      SELECT f3.*, (c.doc_id IS NOT NULL) AS contaminated
      FROM f3 LEFT JOIN contam c ON f3.doc_id = c.doc_id
    ),
    surv AS MATERIALIZED (
      SELECT * FROM f4
      WHERE q_pass AND g_pass AND exact_keep AND near_keep
        AND NOT contaminated
    ),
    mrate AS (
      SELECT source,
             round(least(1.0,
               (pow(p, {_TM_ALPHA}) / sum(pow(p, {_TM_ALPHA})) OVER ()) / p
             ), 6) AS rate
      FROM (SELECT source, count(*) * 1.0 / sum(count(*)) OVER () AS p
            FROM surv GROUP BY source)
    ),
    mkept AS MATERIALIZED (
      SELECT surv.* FROM surv JOIN mrate USING (source)
      WHERE {_TM_U} < mrate.rate
    ),
    s6 AS (
      SELECT '6_mixture' AS stage,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(coalesce(sum(len(toks)), 0) AS BIGINT) AS total_tokens,
             CAST(coalesce(sum(chk), 0) AS BIGINT) AS id_checksum
      FROM mkept
    ),
    lt AS (SELECT doc_id, source, list_filter(toks, t -> t <> '') AS ts FROM mkept),
    tk AS (SELECT doc_id, source, unnest(ts) AS g,
                  generate_subscripts(ts, 1) AS i FROM lt),
    grams AS (
      SELECT doc_id, source, g FROM tk
      UNION ALL
      SELECT a.doc_id, a.source, a.g || '_' || b.g
      FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND b.i = a.i + 1
    ),
    feat AS MATERIALIZED (
      SELECT doc_id, source,
             CAST((CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT)
                   % 2147483647) % 1024 AS INT) AS bucket,
             count(*) AS n
      FROM grams GROUP BY 1, 2, 3
    ),
    rawc AS (SELECT bucket, sum(n) AS cr FROM feat
             WHERE source NOT IN ({_DSIR_T}) GROUP BY 1),
    tgtc AS (SELECT bucket, sum(n) AS ct FROM feat
             WHERE source IN ({_DSIR_T}) GROUP BY 1),
    tot AS (SELECT (SELECT sum(cr) FROM rawc) AS rt,
                   (SELECT sum(ct) FROM tgtc) AS tt),
    lam AS (
      SELECT r.bucket,
             ln((coalesce(t.ct, 0) + 1.0) / (tot.tt + 1024.0))
           - ln((r.cr + 1.0) / (tot.rt + 1024.0)) AS lam
      FROM rawc r LEFT JOIN tgtc t USING (bucket) CROSS JOIN tot
    ),
    w AS (
      SELECT f.doc_id, sum(f.n * lam.lam) AS logw
      FROM feat f JOIN lam USING (bucket)
      WHERE f.source NOT IN ({_DSIR_T})
      GROUP BY 1
    ),
    keyed AS (
      SELECT doc_id,
             round(logw + (-ln(-ln(
               ((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                      AS BIGINT) % 2147483647) + 1.0) / 2147483648.0
             ))), 6) AS key
      FROM w
    ),
    sel AS (SELECT doc_id FROM keyed ORDER BY key DESC, doc_id LIMIT {_FUNNEL_K}),
    s7 AS (
      SELECT '7_dsir_selected' AS stage,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(coalesce(sum(len(f4.toks)), 0) AS BIGINT) AS total_tokens,
             CAST(coalesce(sum(f4.chk), 0) AS BIGINT) AS id_checksum
      FROM sel JOIN f4 USING (doc_id)
    ),
    packed AS (
      SELECT f4.doc_id, f4.chk, len(f4.toks) AS n_tokens,
             CAST(floor((sum(len(f4.toks)) OVER w - len(f4.toks)) / {_FUNNEL_PACK_BUDGET}) AS BIGINT) AS bin
      FROM sel JOIN f4 USING (doc_id)
      WINDOW w AS (ORDER BY f4.doc_id ROWS UNBOUNDED PRECEDING)
    ),
    s8 AS (
      SELECT '8_packed_bins' AS stage,
             CAST(count(DISTINCT bin) AS BIGINT) AS n_docs,
             CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS total_tokens,
             CAST(coalesce(sum(chk * (bin + 1)), 0) AS BIGINT) AS id_checksum
      FROM packed
    )
    SELECT * FROM (
{stage_rows}
      UNION ALL
      SELECT * FROM s6
      UNION ALL
      SELECT * FROM s7
      UNION ALL
      SELECT * FROM s8
    ) ORDER BY stage
    """


def _curation_flagged(spark: SparkSession, sf_dir: str):
    """The funnel's single-pass flagged relation, UNCHECKPOINTED — the
    plan the redaction-ordering test inspects (localCheckpoint truncates
    lineage to a LogicalRDD, hiding the expression tree). Returns
    (flagged_df, stages): every stage predicate as a cumulative flag
    column c0..c3, plus per-doc token count and id checksum."""
    from pyspark.sql import Window as W

    from ..operators.pii import redact_text

    docs = _docs_spread(spark, sf_dir)
    base = docs.withColumn("hsum", _funnel_hsum_expr()).select(
        "doc_id", "lang", "source",
        redact_text(_funnel_aug_expr()).alias("text"),
    )
    pool = base.where(F.col("doc_id") % 97 != 0)
    eval_set = base.where(F.col("doc_id") % 97 == 0)
    chk = X.token_base_hash(F.col("doc_id").cast("string"))

    from ..operators.quality_rules import FUNNEL_RULES, gopher_pass

    # Tokenize ONCE (VERDICT r17 #5): split(trim(text)) used to be
    # re-evaluated inside every token statistic — quality_score (~6
    # evaluations/row across its ratios), each Gopher rule, the minhash
    # shingle set, and the final token count (CSE does not cross
    # interpreted higher-order functions). Hoist the token array into
    # its own projection (CollapseProject keeps multiply-referenced
    # non-cheap aliases separate — the embedding._assemble lesson) and
    # feed every statistic the SAME projected column. The minhash
    # signature moves BEFORE the windows (it is map-only on text, so
    # position is semantics-free) so the token/base-hash arrays are
    # dropped before anything shuffles — the window exchanges carry the
    # same columns as before.
    tk = F.col("__toks")
    toked = pool.withColumn("__toks", X.tokens("text"))
    f1 = (
        toked.withColumn(
            "q", F.round(X.quality_score(F.col("text"), toks=tk), 6)
        )
        .withColumn("q_pass", F.col("q") >= 0.55)
        # the Gopher rule gate (VERDICT r9 #5): the funnel's enabled
        # subset, fused into the same flag pass — still map-only
        .withColumn("g_pass", gopher_pass(F.col("text"), FUNNEL_RULES, toks=tk))
        .withColumn("ntok", F.size(tk))
        # minhash base-hash array in its own projection (with_minhash's
        # one-md5-per-token contract), signature from the shared
        # _minhash_sig recipe
        .withColumn(
            "__tokh",
            F.transform(F.array_sort(F.array_distinct(tk)), X.token_base_hash),
        )
    )
    f1 = f1.select(
        "doc_id", "lang", "source", "text", "q", "q_pass", "g_pass", "ntok",
        D._minhash_sig(MINHASH_K).alias("sig"),
    )
    fp_win = W.partitionBy(X.fingerprint_md5(F.col("text")))
    f2 = f1.withColumn(
        "exact_keep",
        F.col("doc_id")
        == F.min(
            F.when(F.col("q_pass") & F.col("g_pass"), F.col("doc_id"))
        ).over(fp_win),
    )
    f3 = f2.withColumn(
        "near_keep",
        F.col("doc_id")
        == F.min(
            F.when(
                F.col("q_pass") & F.col("g_pass") & F.col("exact_keep"),
                F.col("doc_id"),
            )
        ).over(W.partitionBy("sig")),
    )
    contam = D.decontaminate(pool, eval_set, n=3).select(
        "doc_id", F.lit(True).alias("contaminated")
    )
    f4 = (
        f3.join(F.broadcast(contam), "doc_id", "left")
        .withColumn("contaminated", F.coalesce(F.col("contaminated"), F.lit(False)))
    )

    stages = [
        ("1_quality", F.col("q_pass")),
        ("2_gopher", F.col("q_pass") & F.col("g_pass")),
        (
            "3_exact_dedup",
            F.col("q_pass") & F.col("g_pass") & F.col("exact_keep"),
        ),
        (
            "4_near_dedup",
            F.col("q_pass")
            & F.col("g_pass")
            & F.col("exact_keep")
            & F.col("near_keep"),
        ),
        (
            "5_decontaminated",
            F.col("q_pass")
            & F.col("g_pass")
            & F.col("exact_keep")
            & F.col("near_keep")
            & ~F.col("contaminated"),
        ),
    ]
    return (
        f4.select(
            "doc_id", "source", "text",
            "ntok", chk.alias("chk"),
            *[cond.alias(f"c{i}") for i, (_n, cond) in enumerate(stages)],
        ),
        [name for name, _c in stages],
    )


@query(
    "curation_pipeline_funnel",
    tier="local",
    oracle=_funnel_oracle,
    description="The END-TO-END curation recipe as ONE verified plan "
    "(VERDICT r8 #4): PII redaction FIRST (per operators/pii.py — PII "
    "must never reach fingerprints, signatures, or model features; a "
    "deterministic planted payload makes the ordering hash-falsifiable, "
    "since every downstream fingerprint changes if redaction were "
    "skipped or reordered) -> quality threshold -> Gopher rule gate "
    "(FUNNEL_RULES subset, fused into the same flag pass) -> exact "
    "dedup -> MinHash near-dup canonicalization -> n-gram "
    "decontamination vs a held-out eval split -> temperature-mixture "
    "per-source sampling over the survivor distribution -> DSIR "
    "importance top-k. Emits a per-stage "
    "funnel (n_docs, total_tokens, and an id-set checksum that pins the "
    "EXACT surviving doc set, not just its size). Scale shape: all "
    "stage predicates compute as FLAGS in one corpus pass (conditional "
    "windows over fingerprint/signature keys — 16-byte hashes shuffle, "
    "never text; contamination is a broadcast semi-join), so the funnel "
    "is one pass + one tiny agg; only DSIR adds its two documented "
    "feature/weight passes over the survivor slice",
)
def curation_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.selection import dsir_select_flagged

    flagged, stage_names = _curation_flagged(spark, sf_dir)
    # ONE corpus pass materializes the flagged relation; the funnel
    # aggregation, the DSIR feature/weight passes, and the selected-set
    # rollup all read it instead of re-running the window/minhash/
    # contamination lineage per consumer (measured 2.6x at sf0.01; at
    # 100 TB this is the cached-flags relation a production run would
    # persist to storage between stages)
    # checkpoint at full width (r17): the flagged relation leaves the
    # contamination broadcast join AQE-coalesced to a handful of
    # partitions at small SFs; every consumer below (funnel agg, the
    # DSIR feature explode over the survivors, the packing joins) would
    # inherit that near-serial layout from the checkpoint. One cheap
    # round-robin of the flag rows before materializing keeps the
    # downstream CPU work cluster-wide; at real scale the relation is
    # already wide and the repartition is the only cost (bounded by the
    # checkpoint write it precedes).
    slots = spark.sparkContext.defaultParallelism
    f4 = flagged.repartition(slots).localCheckpoint(eager=True)
    stages = stage_names
    staged = f4.select(
        "ntok",
        "chk",
        *[f"c{i}" for i in range(len(stages))],
    )
    aggs = []
    for i in range(len(stages)):
        c = F.col(f"c{i}")
        aggs += [
            F.sum(F.when(c, 1).otherwise(0)).cast("long").alias(f"n{i}"),
            F.coalesce(F.sum(F.when(c, F.col("ntok"))), F.lit(0))
            .cast("long")
            .alias(f"t{i}"),
            F.coalesce(F.sum(F.when(c, F.col("chk"))), F.lit(0))
            .cast("long")
            .alias(f"k{i}"),
        ]
    funnel = (
        staged.agg(*aggs)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(name).alias("stage"),
                            F.col(f"n{i}").alias("n_docs"),
                            F.col(f"t{i}").alias("total_tokens"),
                            F.col(f"k{i}").alias("id_checksum"),
                        )
                        for i, name in enumerate(stages)
                    ]
                )
            ).alias("s")
        )
        .select("s.*")
    )
    surv = f4.where(F.col(f"c{len(stages) - 1}"))
    # temperature-mixture stage (VERDICT r9 #5): per-source keep rates
    # p^alpha renormalized over the SURVIVOR distribution (the set the
    # trainer would actually sample from), membership decided by the
    # same 6-dp-rounded rate vs md5-uniform threshold the standalone
    # temperature_mixture query verifies — rates are a source-cardinality
    # broadcast, the keep decision is map-only
    wall = Window.partitionBy()
    p = F.col("n") / F.sum("n").over(wall)
    mrates = (
        surv.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("source", p.alias("p"), F.pow(p, F.lit(_TM_ALPHA)).alias("pa"))
        .select(
            "source",
            F.round(
                F.least(
                    F.lit(1.0), (F.col("pa") / F.sum("pa").over(wall)) / F.col("p")
                ),
                6,
            ).alias("rate"),
        )
    )
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8),
            16,
            10,
        ).cast("double")
        / 4294967296.0
    )
    mkept = surv.join(F.broadcast(mrates), "source").where(u < F.col("rate"))
    s6 = mkept.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum("ntok"), F.lit(0)).cast("long").alias("total_tokens"),
        F.coalesce(F.sum("chk"), F.lit(0)).cast("long").alias("id_checksum"),
    ).select(
        F.lit("6_mixture").alias("stage"),
        "n_docs",
        "total_tokens",
        "id_checksum",
    )
    sel = dsir_select_flagged(
        mkept.select("doc_id", "text", "source"),
        F.col("source").isin(*_DSIR_TARGET),
        k=_FUNNEL_K,
    ).select("doc_id")
    s7 = (
        f4.join(sel, "doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("ntok"), F.lit(0)).cast("long").alias("total_tokens"),
            F.coalesce(F.sum("chk"), F.lit(0)).cast("long").alias("id_checksum"),
        )
        .select(
            F.lit("7_dsir_selected").alias("stage"),
            "n_docs",
            "total_tokens",
            "id_checksum",
        )
    )
    # packing stage over the selected set (the trainer-facing tail of
    # the recipe): offset packing at a fixed token budget — bin = where
    # the doc STARTS when the k selected docs lie end-to-end in id
    # order. k is bounded, so the single global window is k rows.
    packed = (
        f4.join(sel, "doc_id")
        .select(
            "doc_id", "chk", F.col("ntok").alias("n_tokens"),
            F.floor(
                (F.sum("ntok").over(
                    Window.orderBy("doc_id").rowsBetween(
                        Window.unboundedPreceding, 0
                    )
                ) - F.col("ntok"))
                / _FUNNEL_PACK_BUDGET
            ).cast("long").alias("bin"),
        )
    )
    s8 = packed.agg(
        F.countDistinct("bin").cast("long").alias("n_docs"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias("total_tokens"),
        F.coalesce(F.sum(F.col("chk") * (F.col("bin") + 1)), F.lit(0))
        .cast("long")
        .alias("id_checksum"),
    ).select(
        F.lit("8_packed_bins").alias("stage"),
        "n_docs",
        "total_tokens",
        "id_checksum",
    )
    return (
        funnel.unionByName(s6).unionByName(s7).unionByName(s8).orderBy("stage")
    )


@query(
    "source_entropy",
    oracle="""
    WITH counts AS (
        SELECT source, lang, count(*) AS n
        FROM documents GROUP BY source, lang
    ), tot AS (
        SELECT source, lang, n, sum(n) OVER (PARTITION BY source) AS total
        FROM counts
    )
    SELECT source,
           CAST(sum(n) AS BIGINT) AS n_docs,
           round(-sum((n / total) * ln(n / total)), 6) AS lang_entropy,
           round(1.0 - sum((n / total) * (n / total)), 6) AS lang_gini
    FROM tot
    GROUP BY source
    ORDER BY source
    """,
    description="Per-source language diversity: Shannon entropy and "
    "Gini impurity of each source's language mix — the mixture-health "
    "signal a corpus curator tracks per crawl/domain. Two aggregations "
    "over (source,lang) keys (tiny post-agg cardinality); the fact scan "
    "is a single pass",
    tier="local",
)
def source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.withColumn("total", F.sum("n").over(W.partitionBy("source")))
    p = F.col("n") / F.col("total")
    return (
        tot.groupBy("source")
        .agg(
            F.sum("n").alias("n_docs"),
            F.round(-F.sum(p * F.log(p)), 6).alias("lang_entropy"),
            F.round(F.lit(1.0) - F.sum(p * p), 6).alias("lang_gini"),
        )
        .orderBy("source")
    )


@query(
    "vocab_overlap",
    oracle="""
    WITH vocab AS (
        SELECT DISTINCT source, unnest(string_split(trim(text), ' ')) AS tok
        FROM documents
    ), sizes AS (
        SELECT source, count(*) AS sz FROM vocab GROUP BY source
    ), inter AS (
        SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_common
        FROM vocab a JOIN vocab b ON a.tok = b.tok AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT source_a, source_b,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(sa.sz + sb.sz - n_common AS BIGINT) AS n_union,
           round(n_common / (sa.sz + sb.sz - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.source = inter.source_a
    JOIN sizes sb ON sb.source = inter.source_b
    ORDER BY jaccard DESC, source_a, source_b
    LIMIT 30
    """,
    description="Pairwise vocabulary Jaccard between sources: distinct "
    "(source, token) vocab -> token-keyed self-join counts "
    "intersections (each token contributes at most "
    "|sources-it-appears-in| choose 2 pairs — never a doc-level "
    "cross-product), broadcast size map completes |A or B| = "
    "|A|+|B|-|A and B|. The cross-source contamination / domain-overlap "
    "signal for mixture design; cost is O(vocab x avg-source-fanout^2), "
    "independent of corpus row count",
    tier="local",
)
def vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")  # spread net-negative here (r17)
    vocab = docs.select(
        "source", F.explode(X.tokens("text")).alias("tok")
    ).distinct()
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("sz"))
    a = vocab.alias("a")
    b = vocab.alias("b")
    inter = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.withColumnRenamed("source", "source_a").withColumnRenamed("sz", "sz_a")
    sb = sizes.withColumnRenamed("source", "source_b").withColumnRenamed("sz", "sz_b")
    n_union = F.col("sz_a") + F.col("sz_b") - F.col("n_common")
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("n_common").cast("long").alias("n_common"),
            n_union.cast("long").alias("n_union"),
            F.round(F.col("n_common") / n_union, 6).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "source_a", "source_b")
        .limit(30)
    )


@query(
    "bigram_lm_outliers",
    oracle="""
    WITH toks AS (
        SELECT doc_id, tok, pos
        FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok,
                     generate_subscripts(string_split(trim(text), ' '), 1) AS pos
              FROM documents)
    ), bigrams AS (
        SELECT doc_id, tok AS w1,
               lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM toks
        QUALIFY w2 IS NOT NULL
    ), c12 AS (
        SELECT w1, w2, count(*) AS n12 FROM bigrams GROUP BY w1, w2
    ), c1 AS (
        SELECT w1, sum(n12) AS n1 FROM c12 GROUP BY w1
    ), v AS (SELECT count(DISTINCT tok) AS vocab FROM toks)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(ln((n12 + 1.0) / (n1 + vocab))), 6) AS avg_logprob
    FROM bigrams JOIN c12 USING (w1, w2) JOIN c1 USING (w1), v
    GROUP BY doc_id
    ORDER BY avg_logprob ASC, doc_id
    LIMIT 20
    """,
    description="Corpus bigram language model as a quality filter "
    "(KenLM-style): train add-one-smoothed bigram probabilities on the "
    "corpus itself, score each document by mean log P(w2|w1), and "
    "surface the 20 most surprising documents — the low-likelihood "
    "outliers a data-filtering pipeline drops or audits. All relational: "
    "posexplode -> lead-per-doc bigrams -> two count aggregates -> "
    "join-back -> per-doc mean. The model table is (distinct bigrams) "
    "rows — shuffles carry counts, never text; at 100 TB the bigram "
    "table is built once and reused as a broadcast/bucketed dim",
    tier="local",
)
def bigram_lm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")  # spread net-negative here (r17)
    toks = docs.select(
        "doc_id", F.posexplode(X.tokens("text")).alias("pos", "tok")
    )
    worder = W.partitionBy("doc_id").orderBy("pos")
    bigrams = (
        toks.withColumn("w2", F.lead("tok").over(worder))
        .where(F.col("w2").isNotNull())
        .select("doc_id", F.col("tok").alias("w1"), "w2")
    )
    c12 = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    c1 = c12.groupBy("w1").agg(F.sum("n12").alias("n1"))
    vocab = toks.select("tok").distinct().count()  # scalar: one cheap job
    logp = F.log((F.col("n12") + 1.0) / (F.col("n1") + F.lit(float(vocab))))
    return (
        bigrams.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(logp), 6).alias("avg_logprob"),
        )
        .orderBy("avg_logprob", "doc_id")
        .limit(20)
    )


def _kmeans_cte(k: int = 8, iters: int = 3, dim: int = 64) -> str:
    """Shared SQL prefix re-deriving the deterministic Lloyd's k-means of
    ``operators.clustering.lloyd_kmeans`` (first-k-by-id init, argmin
    ties to smallest cell, centroids rounded to 6 dp per round) — the
    oracle for an ITERATIVE algorithm, generated per iteration the same
    way the minhash oracles share their hash definition."""
    lines = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        "c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cent"
        f" FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {k}))",
    ]
    prev = "c0"
    for i in range(1, iters + 1):
        lines.append(
            f"a{i} AS (SELECT e.vec_id, (SELECT c.cell FROM {prev} c"
            " ORDER BY list_distance(e.v, c.cent), c.cell LIMIT 1) AS cell FROM e)"
        )
        lines.append(
            f"c{i} AS (SELECT cell, list(m ORDER BY pos) AS cent FROM ("
            f"SELECT a.cell, r.pos, round(avg(e.v[r.pos]), 6) AS m"
            f" FROM a{i} a JOIN e USING (vec_id), UNNEST(range(1, {dim + 1})) AS r(pos)"
            " GROUP BY a.cell, r.pos) GROUP BY cell)"
        )
        prev = f"c{i}"
    return "WITH " + ",\n".join(lines)


@query(
    "kmeans_embed_clusters",
    tier="local",
    oracle=lambda: _kmeans_cte()
    + """
    SELECT c.cell, n.n, r.pos, c.cent[r.pos] AS centroid_val
    FROM c3 c
    JOIN (SELECT cell, CAST(count(*) AS BIGINT) AS n FROM a3 GROUP BY cell) n
      ON c.cell = n.cell,
    UNNEST(range(1, 65)) AS r(pos)
    ORDER BY c.cell, r.pos
    """,
    description="Distributed k-means over the embedding column "
    "(deterministic Lloyd's: first-k init, 3 rounds, 6-dp-quantized "
    "centroids) — assignment is one Arrow map-only pass per round, the "
    "mean update a partial-aggregated (cell,pos,val) shuffle. The full "
    "ITERATIVE algorithm is DuckDB-re-derived per round (chained CTEs), "
    "not just the final aggregate",
)
def kmeans_embed_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import lloyd_kmeans

    emb = load_table(spark, sf_dir, "embeddings")
    assign, cents = lloyd_kmeans(emb, k=8, iters=3)
    counts = assign.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
    rows = [
        (cell, pos + 1, float(val))
        for cell, vec in cents
        for pos, val in enumerate(vec)
    ]
    cdf = spark.createDataFrame(rows, "cell long, pos long, centroid_val double")
    return (
        cdf.join(F.broadcast(counts), "cell")
        .select("cell", "n", "pos", "centroid_val")
        .orderBy("cell", "pos")
    )


@query(
    "semantic_dedup",
    tier="local",
    oracle=lambda: _kmeans_cte()
    + """,
    p AS (
      SELECT x.vec_id AS id_a, y.vec_id AS id_b,
             round(list_cosine_similarity(ex.v, ey.v), 6) AS cosine
      FROM a3 x
      JOIN a3 y ON x.cell = y.cell AND x.vec_id < y.vec_id
      JOIN e ex ON ex.vec_id = x.vec_id
      JOIN e ey ON ey.vec_id = y.vec_id
      WHERE round(list_cosine_similarity(ex.v, ey.v), 6) >= 0.4
    )
    SELECT id_b AS vec_id, min(id_a) AS dup_of, arg_min(cosine, id_a) AS cosine
    FROM p GROUP BY id_b ORDER BY vec_id
    """,
    description="SemDeDup (Abbas et al. 2023): k-means-cluster the "
    "corpus in embedding space, then drop every vector with a "
    "lower-id cosine>=0.4 neighbor IN ITS CLUSTER — pair generation is "
    "O(sum cluster_size^2), never all-pairs; the within-cluster pairs "
    "run on the tiled BLAS Gram path (cosine_pairs_gemm with "
    "block_col=cell). Output: removed vec, its keeper, their cosine",
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import lloyd_kmeans

    emb = load_table(spark, sf_dir, "embeddings")
    assign, _ = lloyd_kmeans(emb, k=8, iters=3)
    pairs = S.cosine_pairs_gemm(
        emb.join(assign, "vec_id"), threshold=0.4, block_col="cell", n_chunks=None
    )
    return (
        pairs.groupBy("id_b")
        .agg(
            F.min("id_a").alias("dup_of"),
            F.expr("min_by(cosine, id_a)").alias("cosine"),
        )
        .withColumnRenamed("id_b", "vec_id")
        .orderBy("vec_id")
    )


@query(
    "training_shard_stats",
    tier="local",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             len(string_split(trim(text), ' ')) AS n_toks,
             md5('order' || CAST(doc_id AS VARCHAR)) AS h,
             CAST(concat('0x', substr(md5('shard' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 8 AS shard
      FROM documents)
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS total_tokens,
           arg_min(doc_id, h) AS first_doc,
           arg_max(doc_id, h) AS last_doc
    FROM d GROUP BY shard ORDER BY shard
    """,
    description="Training-shard export plan (read-only twin of "
    "operators.chunking.export_training_shards): md5-salted shard "
    "membership + within-shard pseudo-random order, both pure row "
    "functions — the global training shuffle as one hash exchange + "
    "per-partition sort, reproducible across reruns/retries. Stats per "
    "shard: doc count, token mass, first/last doc in shuffle order",
)
def training_shard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.chunking import shard_key, shuffle_order_key

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), " ")).alias("n_toks"),
        shard_key(F.col("doc_id"), 8),
        shuffle_order_key(F.col("doc_id")),
    )
    return (
        d.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
            F.expr("min_by(doc_id, __ord)").alias("first_doc"),
            F.expr("max_by(doc_id, __ord)").alias("last_doc"),
        )
        .orderBy("shard")
    )


def _phrase_cte(m: int = 6) -> str:
    """Chained-CTE oracle for the word2phrase merge loop
    (operators.phrases.learn_phrase_merges): per round, pair counts via
    index UNNEST, argmax with (n DESC, w1, w2) tie-break, then a literal
    replace of the winning pair — SQL replace is left-to-right
    non-overlapping, the same greedy merge Spark's ``replace`` applies."""
    # MATERIALIZED: each d{i} is referenced twice (pair counts + next
    # round); DuckDB would otherwise inline and RECOMPUTE the chain per
    # reference — 2^m corpus scans (observed OOM at sf1)
    lines = ["d0 AS MATERIALIZED (SELECT ' ' || trim(text) || ' ' AS w FROM documents)"]
    for i in range(1, m + 1):
        lines.append(
            f"p{i} AS (SELECT t[r.i] AS w1, t[r.i+1] AS w2, CAST(count(*) AS BIGINT) AS n"
            f" FROM (SELECT string_split(trim(w), ' ') AS t FROM d{i-1}),"
            " UNNEST(range(1, len(t))) AS r(i) GROUP BY 1, 2)"
        )
        lines.append(
            f"m{i} AS MATERIALIZED (SELECT w1, w2, n FROM p{i} ORDER BY n DESC, w1, w2 LIMIT 1)"
        )
        lines.append(
            f"d{i} AS MATERIALIZED (SELECT replace(w,"
            f" ' ' || (SELECT w1 FROM m{i}) || ' ' || (SELECT w2 FROM m{i}) || ' ',"
            f" ' ' || (SELECT w1 FROM m{i}) || '@@' || (SELECT w2 FROM m{i}) || ' ') AS w"
            f" FROM d{i-1})"
        )
    final = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS rank, w1, w2, n FROM m{i}" for i in range(1, m + 1)
    )
    return "WITH " + ",\n".join(lines) + f"\nSELECT * FROM ({final}) ORDER BY rank"


_PHRASE_QUERIES = [
    ("p1", "table hash"), ("p1", "merge group"),
    ("p2", "customer join"), ("p2", "slow hash batch"),
    ("p3", "part filter scan"), ("p3", "window fast query"),
]


def _bm25_phrase_oracle(k: int = 10) -> str:
    """Per distinct phrase LENGTH, re-derive the n-gram event space
    (tf, df, dl, N, avgdl) and the BM25 contributions; union, sum per
    query, rank on the rounded score — the exact dual of
    operators.retrieval.bm25_phrase_topk."""
    values = ", ".join(f"('{q}', '{g}')" for q, g in _PHRASE_QUERIES)
    lens = sorted({len(g.split()) for _q, g in _PHRASE_QUERIES})
    parts = [f"q(query_id, g) AS (VALUES {values})"]
    unions = []
    for L in lens:
        ng = _ngrams_sql(L)
        parts.append(f"g{L} AS (SELECT doc_id, unnest({ng}) AS g FROM documents)")
        parts.append(f"d{L} AS (SELECT doc_id, len({ng}) AS dl FROM documents)")
        parts.append(
            f"s{L} AS (SELECT count(*) AS n, sum(dl) * 1.0 / count(*) AS avgdl FROM d{L})"
        )
        parts.append(
            f"tf{L} AS (SELECT doc_id, g, count(*) AS tf FROM g{L}"
            f" WHERE g IN (SELECT g FROM q WHERE len(string_split(g, ' ')) = {L})"
            " GROUP BY 1, 2)"
        )
        parts.append(
            f"idf{L} AS (SELECT g, ln(1 + ((SELECT n FROM s{L}) - df + 0.5) / (df + 0.5)) AS idf"
            f" FROM (SELECT g, count(*) AS df FROM tf{L} GROUP BY 1))"
        )
        parts.append(
            f"c{L} AS (SELECT q.query_id, tf{L}.doc_id AS id,"
            f" idf{L}.idf * (tf{L}.tf * (1.2 + 1.0))"
            f" / (tf{L}.tf + 1.2 * (1 - 0.75 + 0.75 * d{L}.dl / (SELECT avgdl FROM s{L}))) AS s"
            f" FROM tf{L} JOIN idf{L} USING (g) JOIN q USING (g)"
            f" JOIN d{L} ON tf{L}.doc_id = d{L}.doc_id)"
        )
        unions.append(f"SELECT * FROM c{L}")
    parts.append("c AS (" + " UNION ALL ".join(unions) + ")")
    parts.append(
        "scored AS (SELECT query_id, id, round(sum(s), 6) AS score"
        " FROM c GROUP BY 1, 2)"
    )
    parts.append(
        "rk AS (SELECT query_id, id AS doc_id, score,"
        " row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id) AS rank"
        " FROM scored)"
    )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT query_id, doc_id, score, rank FROM rk WHERE rank <= {k}"
        " ORDER BY query_id, rank"
    )


@query(
    "bm25_phrase_topk",
    tier="local",
    oracle=_bm25_phrase_oracle(),
    description="Exact PHRASE retrieval with BM25 scoring: a phrase's "
    "tf is the count of positions where consecutive tokens equal it — "
    "computed as matching word n-grams (semantically identical to "
    "Lucene's positional-postings intersection for a known phrase set, "
    "but fully declarative): one map-only n-gram explode per distinct "
    "phrase LENGTH, phrases broadcast as the filter BEFORE the tf "
    "aggregation, per-length df/idf/avgdl in n-gram units, scores "
    "summed per query and ranked on the rounded value. Mixed bigram + "
    "trigram fixture; zero Python",
)
def bm25_phrase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.retrieval import bm25_phrase_topk as _phr

    docs = load_table(spark, sf_dir, "documents")
    pq = spark.createDataFrame(_PHRASE_QUERIES, "query_id string, phrase string")
    return _phr(docs, pq, k=10).orderBy("query_id", "rank")


def _bpe_chain_ctes(m: int = 8) -> str:
    """The shared CTE chain for the character-level BPE learner
    (operators.bpe.learn_bpe): vocab built once, then each round's
    weighted pair argmax + greedy left-to-right merge re-derived over
    the vocab relation — MATERIALIZED chaining as in the word2phrase
    oracle (inlining would recompute 2^m times). The vN relations carry
    the original word through, so v{m} doubles as the final
    SEGMENTATION (word -> space-joined pieces)."""
    lines = [
        "v0 AS MATERIALIZED ("
        " SELECT word,"
        " ' ' || array_to_string(string_split(word, ''), ' ') || ' </w> ' AS w,"
        " cnt FROM ("
        "  SELECT g AS word, CAST(count(*) AS BIGINT) AS cnt FROM ("
        "   SELECT unnest(list_filter(string_split(trim(text), ' '), t -> t <> '')) AS g"
        "   FROM documents) GROUP BY 1))"
    ]
    for i in range(1, m + 1):
        lines.append(
            f"p{i} AS (SELECT t[r.i] AS a, t[r.i+1] AS b, CAST(sum(cnt) AS BIGINT) AS n"
            f" FROM (SELECT string_split(trim(w), ' ') AS t, cnt FROM v{i-1}),"
            " UNNEST(range(1, len(t))) AS r(i) GROUP BY 1, 2)"
        )
        lines.append(
            f"m{i} AS MATERIALIZED (SELECT a, b, n FROM p{i} ORDER BY n DESC, a, b LIMIT 1)"
        )
        lines.append(
            f"v{i} AS MATERIALIZED (SELECT word, replace(w,"
            f" ' ' || (SELECT a FROM m{i}) || ' ' || (SELECT b FROM m{i}) || ' ',"
            f" ' ' || (SELECT a FROM m{i}) || (SELECT b FROM m{i}) || ' ') AS w, cnt"
            f" FROM v{i-1})"
        )
    return ",\n".join(lines)


def _bpe_cte(m: int = 8) -> str:
    final = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS rank, a, b, n FROM m{i}" for i in range(1, m + 1)
    )
    return (
        "WITH " + _bpe_chain_ctes(m) + f"\nSELECT * FROM ({final}) ORDER BY rank"
    )


@query(
    "bpe_merges",
    tier="local",
    oracle=_bpe_cte,
    description="BPE tokenizer training (Sennrich 2016): 8 weighted "
    "merge rounds at character level. The scale property is Sennrich's "
    "own: pair statistics depend only on the WORD-FREQUENCY VOCABULARY, "
    "so the corpus is scanned exactly once (explode+count) and every "
    "merge round is O(vocab) — map-only pair transform + one partial-agg "
    "shuffle over vocab rows weighted by cnt, 1-row argmax collect, "
    "map-only replace. The whole iterative learner re-derives in DuckDB "
    "chained CTEs (left-to-right replace semantics match exactly); the "
    "merge list is the portable tokenizer artifact",
)
def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import learn_bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = learn_bpe(docs, m=8)
    return spark.createDataFrame(
        merges, "rank long, a string, b string, n long"
    ).orderBy("rank")


@query(
    "bpe_token_counts",
    tier="local",
    # The applied-tokenizer twin of bpe_merges: the oracle's v8 CTE IS
    # the final segmentation (word carried through the merge chain), so
    # per-source BPE token totals re-derive exactly.
    oracle="WITH " + _bpe_chain_ctes(8) + """,
    seg AS (
      SELECT word, len(string_split(trim(w), ' ')) AS n_pieces FROM v8
    ),
    cw AS (
      SELECT source, g AS word FROM (
        SELECT source,
               unnest(list_filter(string_split(trim(text), ' '), t -> t <> '')) AS g
        FROM documents)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(n_pieces) AS BIGINT) AS n_bpe_tokens,
           round(sum(n_pieces) * 1.0 / count(*), 6) AS pieces_per_word
    FROM cw JOIN seg USING (word)
    GROUP BY source
    ORDER BY source
    """,
    description="The BPE tokenizer APPLIED at corpus scale: learn the "
    "8-merge vocab (one corpus pass + O(vocab) rounds), replay the "
    "merges into a word->pieces segmentation over the vocab relation, "
    "then tokenize the corpus as exploded-words JOIN broadcast "
    "segmentation — per-source word counts, BPE token totals, and "
    "fertility (pieces/word), the number a token-budgeted pipeline "
    "actually plans with. The oracle re-derives the full iterative "
    "learner AND the applied counts",
)
def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import learn_bpe, segmentation

    docs = load_table(spark, sf_dir, "documents")
    merges = learn_bpe(docs, m=8)
    seg = segmentation(docs, merges).select("word", "n_pieces")
    toks = F.filter(X.tokens("text"), lambda t: t != "")
    words = docs.select("source", F.explode(toks).alias("word"))
    return (
        words.join(F.broadcast(seg), "word")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_pieces").cast("long").alias("n_bpe_tokens"),
            F.round(F.sum("n_pieces") / F.count(F.lit(1)), 6).alias(
                "pieces_per_word"
            ),
        )
        .orderBy("source")
    )


@query(
    "phrase_merges",
    tier="local",
    oracle=_phrase_cte,
    description="Iterative phrase-vocabulary learning (word2phrase / "
    "BPE-style merge loop): 6 rounds of corpus-wide adjacent-pair "
    "argmax + greedy left-to-right merge; later rounds merge merged "
    "tokens into longer phrases. Pair counting is map-only index "
    "transform + one partial-agg shuffle per round (no window, no "
    "self-join); the whole ITERATIVE loop is DuckDB-re-derived via "
    "chained CTEs (replace semantics match exactly)",
)
def phrase_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.phrases import learn_phrase_merges

    docs = load_table(spark, sf_dir, "documents")
    # checkpoint_every=3 bounds lineage so later rounds stop re-executing
    # the whole prior replace chain from the scan — measured ~15% at
    # sf0.1 (2.65 -> 2.27 s warm) with byte-identical merges (r15, the
    # r14 bench-mover follow-up); essential, not optional, at BPE-scale m
    merges = learn_phrase_merges(docs, m=6, checkpoint_every=3)
    return spark.createDataFrame(merges, "rank long, w1 string, w2 string, n long").orderBy(
        "rank"
    )


# ---------------------------------------------------------------------------
# Span-level corpus cleaning (operators/spans.py)
# ---------------------------------------------------------------------------

_LINE_MIN_FRAC = 0.2  # boilerplate threshold: fraction of docs sharing a part


@query(
    "line_dedup_corpus",
    # the synthetic documents table is single-line, so the registered
    # form runs the operator with separator=' ' — the degenerate
    # "lines = tokens" case, i.e. corpus-stopword removal: any token in
    # >= ceil(20% of docs) distinct documents is boilerplate. The real
    # multi-line semantics (blank-line exemption, order preservation,
    # normalization) are pytest-covered in tests/test_spans.py.
    oracle=f"""
    WITH lines0 AS (
      SELECT doc_id, unnest(arr) AS part, unnest(range(1, len(arr)+1)) AS pos
      FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents) s
    ),
    boiler AS (
      SELECT lower(trim(part)) AS norm
      FROM lines0 WHERE trim(part) <> ''
      GROUP BY 1
      HAVING count(DISTINCT doc_id)
             >= ceil((SELECT count(*) FROM documents) * {_LINE_MIN_FRAC})
    ),
    kept AS (
      SELECT l.doc_id, l.part, l.pos
      FROM lines0 l LEFT JOIN boiler b ON lower(trim(l.part)) = b.norm
      WHERE b.norm IS NULL
    )
    SELECT d.doc_id, d.lang,
           coalesce(string_agg(k.part, ' ' ORDER BY k.pos), '') AS text_clean
    FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id
    GROUP BY d.doc_id, d.lang
    ORDER BY d.doc_id
    """,
    description="Line-level boilerplate dedup (CCNet/RefinedWeb): parts "
    "whose normalized form occurs in >= ceil(20% of docs) distinct "
    "documents are removed from every document, survivors reassembled in "
    "original order; one shuffle keyed on the normalized part + one "
    "anti-join + one groupBy(doc) rebuild, all codegen built-ins",
    tier="local",
)
def line_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from ..operators.spans import remove_boilerplate_lines

    docs = load_table(spark, sf_dir, "documents")
    min_docs = math.ceil(docs.count() * _LINE_MIN_FRAC)
    out = remove_boilerplate_lines(docs, min_docs=min_docs, separator=" ")
    return out.select(
        "doc_id", "lang", F.col("text").alias("text_clean")
    ).orderBy("doc_id")


_SPAN_WINDOW = 8


@query(
    "substring_dedup",
    # Lee et al. 2022 exact substring dedup, fixed-window form. The
    # oracle re-derives the full pipeline — window grams via a list()
    # window frame, the SAME md5-derived 60-bit gram keys (the
    # minhash oracle discipline), keeper = row_number over (doc, pos),
    # covered-position explode, ordered rebuild.
    oracle=f"""
    WITH toks0 AS (
      SELECT doc_id, unnest(arr) AS tok, unnest(range(1, len(arr)+1)) AS pos
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS arr
            FROM documents) s
    ),
    toks AS (SELECT * FROM toks0 WHERE tok <> ''),
    grams AS (
      SELECT doc_id, pos,
             CAST(concat('0x', substr(md5(array_to_string(win, ' ')), 1, 15))
                  AS BIGINT) AS h
      FROM (
        SELECT doc_id, pos,
               list(tok) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN CURRENT ROW AND {_SPAN_WINDOW - 1} FOLLOWING) AS win
        FROM toks) g
      WHERE len(win) = {_SPAN_WINDOW}
    ),
    marked AS (
      SELECT doc_id, pos,
             count(*) OVER (PARTITION BY h) AS n,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
      FROM grams
    ),
    dropped AS (
      SELECT DISTINCT doc_id, pos + o.off AS pos
      FROM marked, unnest(range(0, {_SPAN_WINDOW})) AS o(off)
      WHERE n >= 2 AND rn > 1
    ),
    kept AS (
      SELECT t.doc_id, t.tok, t.pos
      FROM toks t LEFT JOIN dropped d ON t.doc_id = d.doc_id AND t.pos = d.pos
      WHERE d.doc_id IS NULL
    )
    SELECT d.doc_id,
           coalesce(string_agg(k.tok, ' ' ORDER BY k.pos), '') AS text_clean
    FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """,
    description="Exact substring dedup (Lee et al. 2022, fixed-window "
    f"variant, window={_SPAN_WINDOW} tokens): every occurrence-but-one of "
    "a duplicated window-gram is cut; overlapping duplicate windows chain "
    "so repeated spans of any length vanish whole. Token explode is "
    "O(corpus tokens), gram keys shuffle once, the removal set is bounded "
    "by duplicate mass — no UDFs anywhere",
    tier="local",
)
def substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.spans import remove_duplicate_spans

    docs = load_table(spark, sf_dir, "documents")
    out = remove_duplicate_spans(docs, window=_SPAN_WINDOW)
    return out.select(
        "doc_id", F.col("text").alias("text_clean")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Supervised quality classifier (fastText-style hashed linear model)
# ---------------------------------------------------------------------------

_ORACLE_QLR_DIR = _index_dir("sf0.01", "quality_lr")
_QLR_BUCKETS = 1024


def _build_quality_model(spark: SparkSession, docs: DataFrame, wpath: str) -> None:
    """Train-once half of the shipped-pretrained-filter lifecycle:
    weak labels take the lexically-DIVERSE half of the corpus (distinct
    tokens / total tokens above the corpus median — the Gopher/CCNet
    repetition-quality heuristic, Rae et al. 2021 §A.1.2) as the
    curated seed class; the classifier distills that heuristic into a
    B+1-double linear model whose committed parquet is what BOTH the
    Spark scorer and the DuckDB oracle read. Fingerprint rows
    (bucket -2: doc count, bucket -3: doc_id sum) ride in the same
    artifact for the staleness guard."""
    from ..operators import quality_classifier as Q

    feats = Q.hashed_bow(docs, n_buckets=_QLR_BUCKETS)
    toks = F.filter(X.tokens("text"), lambda t: t != "")
    div = docs.select(
        F.col("doc_id").alias("id"),
        (
            F.size(F.array_distinct(toks))
            / F.greatest(F.size(toks), F.lit(1))
        ).alias("div"),
    )
    med = div.agg(F.expr("percentile(div, 0.5)").alias("m")).first()["m"]
    labels = div.select("id", (F.col("div") >= med).cast("double").alias("label"))
    w, b = Q.fit_linear_classifier(
        feats, labels, n_buckets=_QLR_BUCKETS, iters=80, lr=20.0
    )
    fp = docs.agg(
        F.count("*").alias("n"), F.sum("doc_id").alias("s")
    ).first()
    rows = (
        [(i, float(x)) for i, x in enumerate(w)]
        + [(-1, float(b)), (-2, float(fp["n"])), (-3, float(fp["s"] or 0))]
    )
    spark.createDataFrame(rows, "bucket int, w double").coalesce(1).write.mode(
        "overwrite"
    ).parquet(wpath)


@query(
    "quality_classifier_score",
    tier="local",
    # The score is EXACT given the committed weight table: features are
    # the portable md5 fold (token_base_hash) mod B with 1+ln(tf)
    # scaling, so DuckDB re-derives every document's margin and sigmoid
    # from the SAME persisted parquet the Spark scorer broadcasts.
    # Rounding (6 dp) absorbs cross-engine summation order.
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents
    ),
    feat AS (
      SELECT doc_id,
             CAST((CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT)
                   % 2147483647) % {_QLR_BUCKETS} AS INT) AS bucket,
             1.0 + ln(count(*)) AS tf
      FROM tok WHERE tok <> '' GROUP BY 1, 2
    ),
    w AS (SELECT CAST(bucket AS INT) AS bucket, w
          FROM read_parquet('{_ORACLE_QLR_DIR}/weights.parquet/*.parquet')
          WHERE bucket >= 0),
    b AS (SELECT w AS bias
          FROM read_parquet('{_ORACLE_QLR_DIR}/weights.parquet/*.parquet')
          WHERE bucket = -1),
    m AS (
      SELECT f.doc_id, sum(f.tf * w.w) AS margin
      FROM feat f JOIN w USING (bucket) GROUP BY 1
    )
    SELECT d.doc_id,
           round(1.0 / (1.0 + exp(-(coalesce(m.margin, 0.0) + b.bias))), 6) AS quality
    FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id CROSS JOIN b
    ORDER BY d.doc_id
    """,
    description="fastText-style corpus quality filter (Joulin 2017 / CCNet "
    "Wenzek 2020 / GPT-3 App.A): hashed-bag-of-words (md5 mod 1024, "
    "1+ln tf) scored by a committed linear model — scoring is one "
    "broadcast join + one per-doc aggregation (scan-bound at 100 TB); "
    "training is distributed full-batch Adagrad with driver-resident weights, "
    "zero UDFs; oracle re-derives every sigmoid from the same weights "
    "parquet",
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..operators import quality_classifier as Q

    idx = _index_dir(sf_dir, "quality_lr")
    wpath = os.path.join(idx, "weights.parquet")
    docs = load_table(spark, sf_dir, "documents")

    def fresh() -> None:
        if os.path.exists(os.path.join(wpath, "_SUCCESS")):
            fp = docs.agg(F.count("*").alias("n"), F.sum("doc_id").alias("s")).first()
            meta = {
                r["bucket"]: r["w"]
                for r in spark.read.parquet(wpath).where("bucket < -1").collect()
            }
            if (float(fp["n"]), float(fp["s"] or 0)) == (meta.get(-2), meta.get(-3)):
                return
        _build_quality_model(spark, docs, wpath)

    memo(spark, sf_dir, ["documents.parquet"], ("fresh", idx), fresh)
    w, b = Q.load_weights(spark, wpath)
    return Q.score_documents(docs, w, b, n_buckets=_QLR_BUCKETS).orderBy("doc_id")


@query(
    "semantic_decontaminate",
    tier="local",
    # Exact by construction (no index): the eval side is small by
    # definition (a benchmark), so it broadcasts and the corpus pass is
    # map-only + one partial-aggregated max per corpus vector — the
    # embedding-space twin of the n-gram `decontaminate` query. DuckDB
    # re-derives every max cosine over the same vectors.
    oracle="""
    WITH eval AS (
      SELECT vec_id AS eid, CAST(embedding AS DOUBLE[]) AS ev
      FROM embeddings WHERE vec_id % 50 = 0
    ),
    corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id % 50 <> 0
    ),
    sims AS (
      SELECT c.vec_id, max(list_cosine_similarity(cv, ev)) AS mc
      FROM corpus c CROSS JOIN eval GROUP BY c.vec_id
    )
    SELECT vec_id, round(mc, 6) AS max_eval_cosine
    FROM sims WHERE round(mc, 6) >= 0.35 ORDER BY vec_id
    """,
    description="Semantic benchmark decontamination (embedding-space twin of "
    "the n-gram decontaminate): corpus vectors whose max cosine to ANY "
    "held-out eval vector crosses the leakage threshold (0.35 — ~p97 of the ambient cosine distribution on this corpus) — eval side "
    "broadcasts (benchmarks are small by definition), corpus side is one "
    "map-only pass with a partial-aggregated per-vector max, so at 100 TB "
    "the cost is the corpus scan; paraphrase-level contamination that "
    "n-gram overlap misses is exactly what the embedding check catches",
)
def semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import max_cosine_vs_reference

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", V.as_double("embedding").alias("v")
    )
    ev = emb.where(F.col("vec_id") % 50 == 0).select(F.col("v").alias("ev"))
    corpus = emb.where(F.col("vec_id") % 50 != 0)
    # auto routing (SCALE.md §Decontamination): benchmark-sized eval sets
    # take the map-only broadcast-expression path; above ~2k eval vectors
    # the same FLOPs run as per-batch BLAS products against the
    # broadcast-normalized eval matrix (identical results, tested)
    mc = max_cosine_vs_reference(
        corpus, ev, id_col="vec_id", vec_col="v", ref_vec_col="ev"
    )
    return (
        mc
        # threshold on the 6-dp ROUNDED max so the keep/drop decision is
        # made in the stabilized domain: a boundary-sitting cosine can
        # flip by a last ulp with summation order (Spark vs oracle)
        .where(F.round("mc", 6) >= 0.35)
        .select("vec_id", F.round("mc", 6).alias("max_eval_cosine"))
        .orderBy("vec_id")
    )


@query(
    "image_feature_stats",
    tier="local",
    # The deterministic stand-in codec makes the multimodal family
    # oracle-checkable end to end: `attach_fake_media` synthesizes each
    # document's pixel payload as the UTF-8 bytes of
    # md5(doc_id)-as-hex repeated to 8*8*4 = 256 bytes — exactly 8 full
    # copies of the 32-char digest — so per-frame luminance mean/std
    # over the 256 "pixels" equal the stats over the digest's 32
    # character codes. DuckDB re-derives them from md5() directly; what
    # the parity row then certifies is the REAL Spark surface: the
    # binary+struct column contract and the Arrow-batched mapInPandas
    # decode→feature pass (swap the stub decode for PIL/ffmpeg in
    # production, the plan shape is identical).
    oracle="""
    WITH b AS (
      SELECT d.doc_id,
             ascii(substr(md5(CAST(d.doc_id AS VARCHAR)), g.i, 1)) AS v
      FROM documents d CROSS JOIN generate_series(1, 32) AS g(i)
    )
    SELECT doc_id,
           round(avg(v), 6) AS mean_lum,
           round(stddev_pop(v), 6) AS std_lum,
           CAST(4 AS INTEGER) AS n_frames
    FROM b GROUP BY doc_id ORDER BY doc_id
    """,
    description="Multimodal image feature extraction: binary media column "
    "+ typed metadata struct -> per-document luminance mean/std via the "
    "Arrow-batched mapInPandas decode->feature pass (the payload is shed "
    "at decode, never carried further); the deterministic stand-in codec "
    "lets a SQL oracle verify every value, and the identical operator "
    "serves real PNG bytes through decode_real",
)
def image_feature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal as MM

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    feats = MM.extract_image_features(MM.attach_fake_media(docs))
    return feats.select(
        "doc_id",
        F.round("mean_lum", 6).alias("mean_lum"),
        F.round("std_lum", 6).alias("std_lum"),
        "n_frames",
    ).orderBy("doc_id")


@query(
    "image_near_dup_pairs",
    tier="local",
    # Multimodal near-dedup, oracle-verified end to end: the corpus is
    # 100 image "families" x 3 variants (variant 0 = the original
    # md5-derived 8x8 payload, variants 1-2 bump ONE pixel by +25 at a
    # family-dependent position), so each family's variants are true
    # near-duplicates a perceptual hash must catch. The Spark side runs
    # the REAL pipeline — binary media column -> Arrow mapInPandas
    # decode -> 64-bit aHash -> 4x16-bit chunk banding (pigeonhole:
    # hamming<=3 guarantees a shared chunk) -> bucket join -> exact
    # bit_count(xor) filter; DuckDB re-derives pixels, mean-threshold
    # bits, chunks, candidates, and Hamming distances from md5()
    # directly. No all-pairs comparison on either side.
    oracle="""
    WITH d AS (
      SELECT doc_id, doc_id % 100 AS family, doc_id // 100 AS variant
      FROM documents WHERE doc_id < 300
    ),
    px AS (
      SELECT d.doc_id, g.i,
             ascii(substr(md5(CAST(d.family AS VARCHAR))
                          || md5(CAST(d.family AS VARCHAR)), g.i, 1))
             + CASE WHEN d.variant > 0
                     AND g.i = 1 + (d.variant * 7 + d.family) % 64
                    THEN 25 ELSE 0 END AS p
      FROM d CROSS JOIN generate_series(1, 64) AS g(i)
    ),
    mu AS (SELECT doc_id, avg(p) AS m FROM px GROUP BY doc_id),
    bits AS (
      SELECT px.doc_id, px.i - 1 AS bit,
             CASE WHEN px.p > mu.m THEN 1 ELSE 0 END AS b
      FROM px JOIN mu USING (doc_id)
    ),
    chunks AS (
      SELECT doc_id, bit // 16 AS band,
             sum(b * (1 << (bit % 16))) AS chunk
      FROM bits GROUP BY doc_id, bit // 16
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM chunks a
      JOIN chunks b ON a.band = b.band AND a.chunk = b.chunk
                    AND a.doc_id < b.doc_id
    ),
    ham AS (
      SELECT c.id_a, c.id_b, CAST(sum(abs(x.b - y.b)) AS INT) AS hamming
      FROM cand c
      JOIN bits x ON x.doc_id = c.id_a
      JOIN bits y ON y.doc_id = c.id_b AND y.bit = x.bit
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
    ORDER BY id_a, id_b
    """,
    description="Multimodal near-dedup: 64-bit perceptual aHash per image "
    "(one Arrow-batched decode pass over the binary media column), then "
    "Hamming near-dup pairs via 4x16-bit chunk banding — two hashes "
    "within distance 3 must share a whole chunk (pigeonhole), so "
    "candidates are a bucket equi-join, never all-pairs, and the exact "
    "bit_count(xor) filter runs in codegen on candidates only; the "
    "image-side twin of the text simhash path, with planted "
    "one-pixel-perturbed variants the oracle re-derives bit for bit",
)
def image_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal as MM

    base = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 300)
        .selectExpr(
            "doc_id",
            "doc_id % 100 AS family",
            "CAST(doc_id DIV 100 AS INT) AS variant",
        )
    )
    s = "concat(md5(cast(family as string)), md5(cast(family as string)))"
    pos = "cast(1 + (variant * 7 + family) % 64 as int)"
    media_df = base.selectExpr(
        "doc_id",
        f"""encode(
              CASE WHEN variant = 0 THEN {s}
                   ELSE concat(substring({s}, 1, {pos} - 1),
                               char(ascii(substring({s}, {pos}, 1)) + 25),
                               substring({s}, {pos} + 1, 64 - {pos}))
              END, 'utf-8') AS media""",
        "named_struct('format', 'fake-gray8', 'width', 8, 'height', 8,"
        " 'n_frames', 1) AS media_meta",
    )
    return MM.image_near_dups(
        media_df, method="ahash", max_hamming=3, n_bands=4
    ).orderBy("id_a", "id_b")


@query(
    "audio_near_dup_pairs",
    tier="local",
    # The audio twin of image_near_dup_pairs: 100 clip "families" x 3
    # variants — variant 0 is the original 256-byte (128-sample int16-LE
    # PCM) payload built from 8 DISTINCT md5 blocks (no periodicity, so
    # all 64 energy windows are independent); variants 1-2 bump ONE byte
    # by +25 at a family-dependent position (one sample -> one window
    # energy -> a few signature bits). Spark runs the real pipeline:
    # binary media -> Arrow mapInPandas energy-envelope hash -> 4x16-bit
    # chunk banding -> bucket join -> exact bit_count(xor); DuckDB
    # re-derives samples, window energies (dyadic-exact), bits, chunks,
    # candidates, and Hamming distances from md5() alone.
    oracle="""
    WITH d AS (
      SELECT doc_id, doc_id % 100 AS family, doc_id // 100 AS variant
      FROM documents WHERE doc_id < 300
    ),
    pay AS (
      SELECT doc_id, family, variant,
             md5(CAST(family AS VARCHAR) || '#0')
             || md5(CAST(family AS VARCHAR) || '#1')
             || md5(CAST(family AS VARCHAR) || '#2')
             || md5(CAST(family AS VARCHAR) || '#3')
             || md5(CAST(family AS VARCHAR) || '#4')
             || md5(CAST(family AS VARCHAR) || '#5')
             || md5(CAST(family AS VARCHAR) || '#6')
             || md5(CAST(family AS VARCHAR) || '#7') AS s
      FROM d
    ),
    ch AS (
      SELECT doc_id, g.i,
             ascii(substr(s, g.i, 1))
             + CASE WHEN variant > 0
                     AND g.i = 1 + (variant * 31 + family) % 256
                    THEN 25 ELSE 0 END AS b
      FROM pay CROSS JOIN generate_series(1, 256) AS g(i)
    ),
    smp AS (
      SELECT a.doc_id, (a.i + 1) // 2 AS j,
             (a.b + 256 * c.b) / 32768.0 AS x
      FROM ch a JOIN ch c ON c.doc_id = a.doc_id AND c.i = a.i + 1
      WHERE a.i % 2 = 1
    ),
    en AS (
      SELECT doc_id, CAST((j - 1) // 2 AS INT) AS w, avg(x * x) AS e
      FROM smp GROUP BY 1, 2
    ),
    mu AS (SELECT doc_id, avg(e) AS m FROM en GROUP BY 1),
    bits AS (
      SELECT en.doc_id, en.w AS bit,
             CASE WHEN en.e > mu.m THEN 1 ELSE 0 END AS b
      FROM en JOIN mu USING (doc_id)
    ),
    chunks AS (
      SELECT doc_id, bit // 16 AS band,
             sum(b * (1 << (bit % 16))) AS chunk
      FROM bits GROUP BY doc_id, bit // 16
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM chunks a
      JOIN chunks b ON a.band = b.band AND a.chunk = b.chunk
                    AND a.doc_id < b.doc_id
    ),
    ham AS (
      SELECT c.id_a, c.id_b, CAST(sum(abs(x.b - y.b)) AS INT) AS hamming
      FROM cand c
      JOIN bits x ON x.doc_id = c.id_a
      JOIN bits y ON y.doc_id = c.id_b AND y.bit = x.bit
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
    ORDER BY id_a, id_b
    """,
    description="Audio near-dedup: 64-bit energy-envelope perceptual hash "
    "per clip (one Arrow-batched int16-PCM pass — the waveform twin of "
    "the image aHash), then Hamming near-dup pairs via the same 4x16-bit "
    "chunk banding (pigeonhole recall, bucket equi-join, exact "
    "bit_count(xor) on candidates only); planted one-byte-perturbed "
    "clip families the oracle re-derives sample by sample",
)
def audio_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal as MM

    base = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 300)
        .selectExpr(
            "doc_id",
            "doc_id % 100 AS family",
            "CAST(doc_id DIV 100 AS INT) AS variant",
        )
    )
    s = " || ".join(
        f"md5(concat(cast(family as string), '#{k}'))" for k in range(8)
    )
    pos = "cast(1 + (variant * 31 + family) % 256 as int)"
    media_df = base.selectExpr(
        "doc_id",
        f"""encode(
              CASE WHEN variant = 0 THEN {s}
                   ELSE concat(substring({s}, 1, {pos} - 1),
                               char(ascii(substring({s}, {pos}, 1)) + 25),
                               substring({s}, {pos} + 1, 256 - {pos}))
              END, 'utf-8') AS media""",
    )
    return MM.audio_near_dups(
        media_df, max_hamming=3, n_bands=4, n_windows=64
    ).orderBy("id_a", "id_b")


@query(
    "video_near_dup_pairs",
    tier="local",
    # The VIDEO leg of the multimodal near-dup triad (VERDICT r13 #5):
    # 100 video "families" x 3 variants, each 4 frames of 8x8 gray8 —
    # the base video repeats the family's md5-derived frame 4 times;
    # variants 1-2 bump ONE pixel by +25 in EVERY frame at a
    # (variant, family, frame)-dependent position, so variants are true
    # near-duplicates across the whole frame sequence. The Spark side
    # runs the real pipeline: binary media -> ONE Arrow decode pass ->
    # sample every 2nd frame (0, 2) -> per-frame 64-bit aHash ->
    # bitwise MAJORITY signature (ties set: 2*count >= n_sampled) ->
    # 4x16-bit chunk banding -> bucket join -> exact bit_count(xor).
    # DuckDB re-derives pixels, per-frame mean-threshold bits, majority
    # votes, chunks, candidates, and Hamming distances from md5()
    # directly. No all-pairs comparison on either side.
    oracle="""
    WITH d AS (
      SELECT doc_id, doc_id % 100 AS family, doc_id // 100 AS variant
      FROM documents WHERE doc_id < 300
    ),
    fr AS (SELECT f FROM generate_series(0, 3, 2) g(f)),
    px AS (
      SELECT d.doc_id, fr.f, g.i,
             ascii(substr(md5(CAST(d.family AS VARCHAR))
                          || md5(CAST(d.family AS VARCHAR)), g.i, 1))
             + CASE WHEN d.variant > 0
                     AND g.i = 1 + (d.variant * 7 + d.family + fr.f * 13) % 64
                    THEN 25 ELSE 0 END AS p
      FROM d CROSS JOIN fr CROSS JOIN generate_series(1, 64) AS g(i)
    ),
    mu AS (SELECT doc_id, f, avg(p) AS m FROM px GROUP BY doc_id, f),
    fbits AS (
      SELECT px.doc_id, px.f, px.i - 1 AS bit,
             CASE WHEN px.p > mu.m THEN 1 ELSE 0 END AS b
      FROM px JOIN mu ON mu.doc_id = px.doc_id AND mu.f = px.f
    ),
    votes AS (
      SELECT doc_id, bit, sum(b) AS cnt, count(*) AS nf
      FROM fbits GROUP BY doc_id, bit
    ),
    bits AS (
      SELECT doc_id, bit, CASE WHEN 2 * cnt >= nf THEN 1 ELSE 0 END AS b
      FROM votes
    ),
    chunks AS (
      SELECT doc_id, bit // 16 AS band,
             sum(b * (1 << (bit % 16))) AS chunk
      FROM bits GROUP BY doc_id, bit // 16
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM chunks a
      JOIN chunks b ON a.band = b.band AND a.chunk = b.chunk
                    AND a.doc_id < b.doc_id
    ),
    ham AS (
      SELECT c.id_a, c.id_b, CAST(sum(abs(x.b - y.b)) AS INT) AS hamming
      FROM cand c
      JOIN bits x ON x.doc_id = c.id_a
      JOIN bits y ON y.doc_id = c.id_b AND y.bit = x.bit
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
    ORDER BY id_a, id_b
    """,
    description="Video near-dedup: frame-sampled (every 2nd frame) "
    "per-frame 64-bit aHash majority-combined into one signature per "
    "video — ONE Arrow decode pass, 8 bytes/video into the shuffle — "
    "then Hamming near-dup pairs via the shared 4x16-bit chunk banding "
    "(pigeonhole recall, bucket equi-join, exact bit_count(xor) on "
    "candidates only); planted per-frame-perturbed families the oracle "
    "re-derives bit for bit, completing the image/audio/video triad",
)
def video_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal as MM

    base = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 300)
        .selectExpr(
            "doc_id",
            "doc_id % 100 AS family",
            "CAST(doc_id DIV 100 AS INT) AS variant",
        )
    )
    s = "concat(md5(cast(family as string)), md5(cast(family as string)))"

    def frame_expr(f: int) -> str:
        pos = f"cast(1 + (variant * 7 + family + {f} * 13) % 64 as int)"
        return (
            f"CASE WHEN variant = 0 THEN {s}"
            f" ELSE concat(substring({s}, 1, {pos} - 1),"
            f" char(ascii(substring({s}, {pos}, 1)) + 25),"
            f" substring({s}, {pos} + 1, 64 - {pos})) END"
        )

    frames = ", ".join(frame_expr(f) for f in range(4))
    media_df = base.selectExpr(
        "doc_id",
        f"encode(concat({frames}), 'utf-8') AS media",
        "named_struct('format', 'fake-gray8', 'width', 8, 'height', 8,"
        " 'n_frames', 4) AS media_meta",
    )
    return MM.video_near_dups(
        media_df, every_n=2, method="ahash", max_hamming=3, n_bands=4
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# PII redaction (privacy scrub — Dolma §2.3 / CCNet / C4 class)
# ---------------------------------------------------------------------------

def _pii_oracle() -> str:
    """Oracle SQL built from the SAME PII_RULES the Spark operator
    applies (single source of truth: a pattern edit changes both sides
    or the parity hash breaks)."""
    from ..operators.pii import PII_RULES

    counts = ", ".join(
        f"len(regexp_extract_all(t, '{pat}')) AS n_{name}"
        for name, pat, _ in PII_RULES
    )
    return f"""
    WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS t FROM documents)
    SELECT doc_id, {counts}, md5({_pii_redact_sql("t")}) AS fp
    FROM aug ORDER BY doc_id
    """


@query(
    "pii_redact",
    tier="local",
    oracle=_pii_oracle,
    description="PII detection + redaction (Dolma/CCNet/C4 privacy scrub): "
    "emails, credit cards, SSNs, phones, IPv4s counted on the raw text and "
    "replaced by typed placeholders in one chained regexp pass — map-only, "
    "whole-stage-codegen'd, zero Python and zero shuffles, so at 100 TB the "
    "cost is the text scan itself; patterns live in the Java-regex/RE2 "
    "common subset and the oracle re-derives every count and every "
    "redacted byte (md5 fingerprint) from the same rule table",
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pii import pii_counts, redact_text

    docs = _docs_spread(spark, sf_dir)
    aug = _pii_aug_expr()
    return (
        docs.select("doc_id", aug.alias("t"))
        .select("doc_id", *pii_counts("t"), F.md5(redact_text("t")).alias("fp"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval (lexical retrieval for curation / RAG / triage)
# ---------------------------------------------------------------------------

_BM25_QUERIES = [
    ("q1", "hash"), ("q1", "join"), ("q1", "scan"),
    ("q2", "merge"), ("q2", "batch"),
    ("q3", "vector"), ("q3", "stream"), ("q3", "window"),
]
_BM25_VALUES = ", ".join(f"('{q}', '{t}')" for q, t in _BM25_QUERIES)


# Exact: BM25 with Lucene's non-negative idf is pure arithmetic over
# (tf, df, dl, N, avgdl) — DuckDB re-derives every quantity and the
# final ranking from the same token stream; scores are rounded to 6 dp
# BEFORE ranking on both sides so summation order cannot flip a
# boundary rank (ties break on doc_id). Shared by the direct query, the
# persisted-index probe (the index stores the same non-empty-token
# event space), and the hybrid-RRF fusion (which consumes the rk CTE's
# full ranking): all three paths must hash-match this one derivation.
_BM25_RK_CTES = f"""q(query_id, term) AS (VALUES {_BM25_VALUES}),
    t2 AS (
      SELECT doc_id, tok FROM (
        SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
        FROM documents
      ) WHERE tok <> ''
    ),
    dl AS (
      SELECT d.doc_id, count(t2.tok) AS dl
      FROM documents d LEFT JOIN t2 USING (doc_id) GROUP BY 1
    ),
    st AS (SELECT count(*) AS n, sum(dl) * 1.0 / count(*) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM t2
      WHERE tok IN (SELECT DISTINCT term FROM q) GROUP BY 1, 2
    ),
    idf AS (
      SELECT tok, ln(1 + (st.n - df + 0.5) / (df + 0.5)) AS idf
      FROM (SELECT tok, count(*) AS df FROM tf GROUP BY 1) CROSS JOIN st
    ),
    sc AS (
      SELECT q.query_id, tf.doc_id,
             sum(idf.idf * (tf.tf * 2.2)
                 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))) AS s
      FROM q
      JOIN tf ON tf.tok = q.term
      JOIN idf ON idf.tok = tf.tok
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN st
      GROUP BY 1, 2
    ),
    rk AS (
      SELECT query_id, doc_id, round(s, 6) AS score,
             row_number() OVER (
               PARTITION BY query_id ORDER BY round(s, 6) DESC, doc_id
             ) AS rank
      FROM sc
    )"""

_BM25_ORACLE = f"""
    WITH {_BM25_RK_CTES}
    SELECT query_id, doc_id, score, rank FROM rk
    WHERE rank <= 10 ORDER BY query_id, rank
    """


@query(
    "bm25_topk",
    tier="local",
    oracle=_BM25_ORACLE,
    description="BM25 top-k retrieval (Robertson-Zaragoza; Lucene idf): "
    "query terms broadcast as the token filter so the only corpus-sized "
    "shuffle carries matched (doc, term, tf) rows; document lengths are a "
    "map-only size(tokens) with no explode; N/avgdl reduce to one "
    "broadcast row; one window ranks per query on the rounded score — "
    "the lexical-retrieval primitive for targeted curation sampling, "
    "contamination triage, and RAG lookup, zero Python in the plan",
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.retrieval import bm25_topk as _bm25

    docs = load_table(spark, sf_dir, "documents")
    queries = spark.createDataFrame(_BM25_QUERIES, "query_id string, term string")
    return _bm25(docs, queries, k=10).orderBy("query_id", "rank")


@query(
    "bm25_indexed_probe",
    tier="local",
    # The SAME oracle as bm25_topk: the persisted index stores the
    # identical non-empty-token event space, so the manifest-resolved
    # probe must hash-match the direct path's SQL — this row verifies
    # the whole snapshot-atomic index lifecycle (build -> manifest
    # commit -> bucket-pruned probe) against an INDEPENDENT engine that
    # never reads the index files.
    oracle=_BM25_ORACLE,
    description="BM25 top-k over the PERSISTED posting index "
    "(snapshot-atomic manifest publish, VERDICT r9 #2): build-if-missing "
    "with a staleness fingerprint against meta's (n, sum_dl), then a "
    "probe that resolves the committed manifest and reads ONLY the "
    "posting dirs the query terms hash to — scores equal the direct "
    "bm25_topk exactly because df/idf/avgdl re-derive from the posting "
    "sliver at probe time",
)
def bm25_indexed_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import retrieval as R

    idx = _index_dir(sf_dir, "bm25u1")
    docs = load_table(spark, sf_dir, "documents")

    def fresh() -> None:
        if R.read_index_manifest(idx) is not None:
            # staleness guard (the ann_ivf pattern): the committed index
            # must describe the CURRENT documents table. meta's (n, sum_dl)
            # is an exact fingerprint of the indexed token stream; recompute
            # it from docs in one map pass and rebuild on mismatch (a new
            # manifest version — probes in flight keep their snapshot).
            units = F.filter(X.tokens("text"), lambda t: t != "")
            a = docs.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum(F.size(units)), F.lit(0)).alias("s"),
            ).first()
            m = R._Bm25Snapshot(spark, idx).meta_df().first()
            if (int(a["n"]), int(a["s"])) == (int(m["n"]), int(m["sum_dl"])):
                return
        R.build_bm25_index(docs, idx, n_buckets=8, n_files=4)

    memo(spark, sf_dir, ["documents.parquet"], ("fresh", idx), fresh)
    queries = spark.createDataFrame(_BM25_QUERIES, "query_id string, term string")
    return R.bm25_topk_indexed(spark, idx, queries, k=10).orderBy(
        "query_id", "rank"
    )


@query(
    "bm25_stream_indexed_probe",
    tier="local",
    # The FULL streaming maintenance path verified against SQL: the
    # corpus arrives as three micro-batches, each folded into the
    # persisted index by the snapshot-atomic upsert (one manifest
    # version per batch), and the final probe must hash-match the same
    # BM25 derivation DuckDB runs over the whole token stream — if any
    # batch boundary leaked into df/idf/avgdl or a replace double-
    # counted, this row diverges.
    oracle=_BM25_ORACLE,
    description="BM25 top-k over a STREAM-MAINTAINED posting index: the "
    "documents table replays as three micro-batches through "
    "stream_bm25_index_ingest (genesis build + snapshot-atomic upsert "
    "per batch, availableNow trigger), then the manifest-resolved probe "
    "ranks the standing index — the RAG index-freshness path, "
    "oracle-verified end to end because probe scores must equal the "
    "batch BM25 over the concatenated feed exactly",
)
def bm25_stream_indexed_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..operators import retrieval as R
    from ..streaming import stream_bm25_index_ingest

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="bm25_stream_")
    for n in range(3):
        docs.where(F.pmod(F.col("doc_id"), F.lit(3)) == n).coalesce(1).write.parquet(
            f"{work}/feed/b{n}"
        )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{work}/feed/*")
    )
    idx = f"{work}/idx"
    stream_bm25_index_ingest(
        stream, idx, n_buckets=8, n_files=4, checkpoint=f"{work}/ckpt"
    )
    queries = spark.createDataFrame(_BM25_QUERIES, "query_id string, term string")
    return R.bm25_topk_indexed(spark, idx, queries, k=10).orderBy(
        "query_id", "rank"
    )


@query(
    "ann_ivf_stream_indexed",
    tier="local",
    # The streaming IVF maintenance path verified against SQL end to
    # end: centroids are FROZEN (seeded from the committed ivf8
    # quantizer), so the stream-built index's content is a pure
    # function of (seed centroids, feed) — every vector in the cell
    # whose centroid is L2-nearest, ties to the smallest cell id (the
    # assign_cells contract). The oracle re-derives assignment, probe
    # set, and restricted top-k from the same committed centroid
    # parquet; if a batch boundary leaked into the index (lost cell,
    # double-ingested id, torn manifest) this row diverges.
    oracle=f"""
    WITH q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
    ),
    cent AS (
      SELECT CAST(cell AS INT) AS cell, CAST(centroid AS DOUBLE[]) AS centroid
      FROM read_parquet('{_ORACLE_IVF_DIR}/centroids/*.parquet')
    ),
    probe AS (
      SELECT cell FROM cent, q
      ORDER BY list_distance(centroid, qv), cell
      LIMIT 3
    ),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    assigned AS (
      SELECT vec_id, v, cell FROM (
        SELECT e.vec_id, e.v, cent.cell,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_distance(cent.centroid, e.v), cent.cell
               ) AS rk
        FROM e, cent
      ) WHERE rk = 1
    )
    SELECT vec_id, round(list_cosine_similarity(v, qv), 6) AS cosine,
           CAST(cell AS INT) AS cell
    FROM assigned, q
    WHERE cell IN (SELECT cell FROM probe) AND vec_id != 0
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
    description="IVF ANN top-k over a STREAM-MAINTAINED index: the "
    "embeddings table replays as three micro-batches through "
    "stream_ivf_index_ingest (frozen quantizer seeded from the committed "
    "ivf8 centroids, snapshot-atomic ivf_upsert per batch, one manifest "
    "version each), then the manifest-resolved probe prunes to the 3 "
    "nearest cells — the ANN index-freshness path, oracle-verified "
    "because frozen centroids make the final index content exactly "
    "re-derivable in SQL",
)
def ann_ivf_stream_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..streaming import stream_ivf_index_ingest

    seed_idx = _ensure_ivf8(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    work = tempfile.mkdtemp(prefix="ivf_stream_")
    for n in range(3):
        emb.where(F.pmod(F.col("vec_id"), F.lit(3)) == n).coalesce(1).write.parquet(
            f"{work}/feed/b{n}"
        )
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{work}/feed/*")
    )
    idx = f"{work}/idx"
    stream_ivf_index_ingest(
        stream,
        idx,
        seed_centroids=os.path.join(
            seed_idx, S._ivf_snapshot(seed_idx)["centroids"]
        ),
        checkpoint=f"{work}/ckpt",
    )
    return S.ivf_query(
        spark, idx, _query_vec(spark, sf_dir, 0), k=10, n_probe=3,
        exclude_id=0, include_cell=True,
    )


def _ensure_ivftext(spark: SparkSession, sf_dir: str) -> str:
    """Build-if-missing + staleness-guarded IVF index over the
    TEXT-DERIVED embeddings (VERDICT r14 #1 — the seam between the r14
    encoder and the index stack): the build persists BOTH halves of a
    serving deployment — the encoder's vocabulary/feature table
    (``<idx>/feats``, what embeds incoming queries) and the IVF index
    over the encoded corpus, sized by the sqrt(N) policy
    (``n_lists=None`` -> 23 lists at 500 docs, 71 at 5000).
    Staleness fingerprints the committed cells against the LIVE encoder
    output, so a regenerated documents fixture rebuilds both."""
    from ..operators import embedding as E

    docs = load_table(spark, sf_dir, "documents")
    feats = E.hashed_token_features(docs, dim=64)
    emb = E.hashed_tfidf_embed(docs, dim=64, feats=feats)
    idx = _index_dir(sf_dir, "ivftext")

    def _build() -> None:
        feats.coalesce(1).write.mode("overwrite").parquet(idx + "/feats")
        S.build_ivf_index(emb, idx, id_col="doc_id", n_lists=None, seed=42)

    return _ensure_index(
        spark,
        idx,
        source=(sf_dir, "documents.parquet"),
        marker="cells/_SUCCESS",
        src_pairs=_emb_pairs(emb, id_col="doc_id"),
        id_col="doc_id",
        build=_build,
        stored_pairs=lambda: S._ivf_cells(spark, idx).select(
            "doc_id", F.element_at(F.col("arr"), 1).alias("e1")
        ),
    )


@query(
    "ann_text_embed_ivf",
    tier="local",
    # The indexed twin of ann_text_embed_topk (VERDICT r14 #1): the
    # SAME deterministic encoder, but served through the persisted IVF
    # manifest probe instead of a per-query full scan — encoder ->
    # build_ivf_index at ingest, then probe-time work is embedding ONE
    # document against the PERSISTED feature table plus a scan of
    # n_probe cell partitions. Approximate vs brute force, EXACT given
    # the persisted index: the oracle re-derives the probe set and the
    # restricted top-k from the same committed parquet.
    oracle=f"""
    WITH q AS (
      SELECT CAST(arr AS DOUBLE[]) AS qv
      FROM read_parquet('{_ORACLE_IVFTEXT_DIR}/cells/*/*.parquet',
                        hive_partitioning=1)
      WHERE doc_id = 0
    ),
    cent AS (
      SELECT CAST(cell AS INT) AS cell, CAST(centroid AS DOUBLE[]) AS centroid
      FROM read_parquet('{_ORACLE_IVFTEXT_DIR}/centroids/*.parquet')
    ),
    probe AS (
      SELECT cell FROM cent, q
      ORDER BY list_distance(centroid, qv), cell
      LIMIT 9
    ),
    cand AS (
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
             CAST(arr AS DOUBLE[]) AS arr,
             CAST(cell AS INT) AS cell
      FROM read_parquet('{_ORACLE_IVFTEXT_DIR}/cells/*/*.parquet',
                        hive_partitioning=1)
      WHERE CAST(cell AS INT) IN (SELECT cell FROM probe) AND doc_id != 0
    )
    SELECT doc_id, round(list_cosine_similarity(arr, qv), 6) AS cosine, cell
    FROM cand, q
    ORDER BY cosine DESC, doc_id
    LIMIT 10
    """,
    description="Text-derived semantic top-k SERVED THROUGH THE INDEX: "
    "the query document is embedded against the index's PERSISTED "
    "vocabulary table (one broadcast join over one doc's tokens — the "
    "real serving shape, no corpus pass), then the manifest probe scans "
    "only the n_probe nearest cell partitions of the sqrt(N)-sized "
    "ivftext build. Replaces the retrieval surface's last per-query "
    "full scan (ann_text_embed_topk stays as the exact-truth twin); "
    "n_probe=9 is the measured operating point of the r15 text-IVF "
    "recall sweep (SCALE.md) — the smallest n_probe with recall@10 "
    ">= 0.9 at BOTH corpus sizes (0.933 at 500 docs/23 lists, 0.900 at "
    "5000 docs/71 lists; the text encoder's fat ambient-cosine tails "
    "need a larger n_probe/n_lists fraction than the jittered fixtures' "
    "6/8)",
)
def ann_text_embed_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import embedding as E

    idx = _ensure_ivftext(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    feats = S.cached_index_parquet(spark, idx, ["feats"])
    # serving path: embed ONE document with the persisted vocabulary —
    # bounded .first() over a one-row derivation (fixes the r14 watch
    # item where the query vector came from the full corpus lineage)
    qrow = E.hashed_tfidf_embed(
        docs.where(F.col("doc_id") == 0), dim=64, feats=feats
    ).first()
    qvec = [float(x) for x in qrow["embedding"]]
    return S.ivf_query(
        spark, idx, qvec, k=10, n_probe=9, id_col="doc_id", exclude_id=0,
        include_cell=True,
    )


@query(
    "ann_text_embed_ivf_batch",
    tier="local",
    # The BATCHED text-IVF serving path (VERDICT r15 #3): N query
    # documents share ONE vocabulary broadcast (the embed is a single
    # tokens⋈feats join over all N docs) and ONE probe pass (probe
    # pairs shuffle-join the cell-partitioned corpus — each probed cell
    # is read once no matter how many queries hit it), with zero
    # driver round-trips: no .first() lifts a vector to a literal, the
    # query vectors stay columns end to end. EXACT given the persisted
    # index, per query (n independent ivf_query probes fused into one
    # plan); the oracle replays the batch from the same committed
    # parquet, taking the query vectors from the index's own cells
    # (fingerprint-tied to the live encoder output).
    oracle=f"""
    WITH qs AS (
      SELECT CAST(doc_id AS BIGINT) AS query_id, CAST(arr AS DOUBLE[]) AS qv
      FROM read_parquet('{_ORACLE_IVFTEXT_DIR}/cells/*/*.parquet',
                        hive_partitioning=1)
      WHERE doc_id < 3
    ),
    cent AS (
      SELECT CAST(cell AS INT) AS cell, CAST(centroid AS DOUBLE[]) AS centroid
      FROM read_parquet('{_ORACLE_IVFTEXT_DIR}/centroids/*.parquet')
    ),
    ranked AS (
      SELECT qs.query_id, cent.cell,
             row_number() OVER (
               PARTITION BY qs.query_id
               ORDER BY list_distance(cent.centroid, qs.qv), cent.cell
             ) AS rk
      FROM cent, qs
    ),
    probe AS (SELECT query_id, cell FROM ranked WHERE rk <= 9),
    cand AS (
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
             CAST(arr AS DOUBLE[]) AS arr,
             CAST(cell AS INT) AS cell
      FROM read_parquet('{_ORACLE_IVFTEXT_DIR}/cells/*/*.parquet',
                        hive_partitioning=1)
    ),
    scored AS (
      SELECT p.query_id, c.doc_id,
             round(list_cosine_similarity(c.arr, q.qv), 6) AS cosine
      FROM probe p
      JOIN cand c ON c.cell = p.cell
      JOIN qs q ON q.query_id = p.query_id
      WHERE c.doc_id != p.query_id
    ),
    topk AS (
      SELECT query_id, doc_id, cosine,
             row_number() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, doc_id
             ) AS rk
      FROM scored
    )
    SELECT query_id, doc_id, cosine FROM topk WHERE rk <= 10
    ORDER BY query_id, cosine DESC, doc_id
    """,
    description="BATCHED text-to-text semantic retrieval through the "
    "persisted ivftext index: N query documents embed against ONE "
    "broadcast of the persisted vocabulary and probe in ONE "
    "shuffle-join plan (each probed cell partition read once no matter "
    "how many queries hit it, no per-query driver round-trip) — the "
    "serving shape at scale, where ann_text_embed_ivf's one-doc probe "
    "(itself already 2× its exact twin) would serialize N Spark jobs "
    "and N vocabulary broadcasts. Measured warm at sf0.1: batch-of-3 "
    "1.60 s vs 3× the single probe's 3.46 s, and batch-of-32 2.02 s — "
    "~0.06 s/query, an ~18× per-query amortization; n_probe=9 is the "
    "measured operating point of the r15 text-IVF recall sweep",
)
def ann_text_embed_ivf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import embedding as E

    idx = _ensure_ivftext(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    feats = S.cached_index_parquet(spark, idx, ["feats"])
    queries = E.hashed_tfidf_embed(
        docs.where(F.col("doc_id") < 3), dim=64, feats=feats
    )
    return S.ivf_batch_topk(
        spark, idx, queries, k=10, n_probe=9, id_col="doc_id",
    )


@query(
    "ann_ivfpq_batch",
    # promoted to the driver tier in r17 (VERDICT r16 #2): the
    # compressed tier is the actual 100 TB serving shape, and none of
    # the driver's 50 rows covered IVF-PQ; ann_text_embed_topk demoted
    # in exchange (its encoder+ANN path stays driver-verified inside
    # retrieval_quality_hybrid_textemb)
    # The batched COMPRESSED-index probe (r16): n independent
    # ivfpq_query_rerank probes fused into one plan with the ADC table
    # as a RELATION (query ⋈ persisted codebooks) instead of n
    # driver-built literals. EXACT given the persisted index, per
    # query; the oracle replays centroid ranking, join-ADC scoring,
    # per-query shortlist cut, and exact rerank from the same
    # committed parquet.
    oracle=lambda: f"""
    WITH qs AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 3
    ),
    qn AS (
      SELECT query_id,
             list_transform(qv, x -> x / sqrt(list_sum(list_transform(qv, y -> y*y)))) AS nv
      FROM qs
    ),
    cent AS (
      SELECT CAST(cell AS INT) AS cell, CAST(centroid AS DOUBLE[]) AS centroid
      FROM read_parquet('{_ORACLE_IVFPQ_DIR}/centroids/*.parquet')
    ),
    probe AS (
      SELECT query_id, cell FROM (
        SELECT qn.query_id, cent.cell,
               row_number() OVER (
                 PARTITION BY qn.query_id
                 ORDER BY list_distance(cent.centroid, qn.nv), cent.cell
               ) AS crk
        FROM cent, qn
      ) WHERE crk <= 6
    ),
    books AS (
      SELECT CAST(subspace AS INT) AS j, CAST(code AS INT) AS code,
             CAST(centroid AS DOUBLE[]) AS centroid
      FROM read_parquet('{_ORACLE_IVFPQ_DIR}/codebooks/*.parquet')
    ),
    tab AS (
      SELECT qn.query_id, b.j, b.code,
             list_dot_product(b.centroid, qn.nv[b.j*8+1 : b.j*8+8]) AS ip
      FROM books b, qn
    ),
    cvec AS (
      SELECT CAST(vec_id AS BIGINT) AS vec_id, codes, CAST(cell AS INT) AS cell
      FROM read_parquet('{_ORACLE_IVFPQ_DIR}/codes/*/*.parquet',
                        hive_partitioning=1)
    ),
    scores AS (
      SELECT p.query_id, c.vec_id, round(sum(t.ip), 6) AS s
      FROM probe p
      JOIN (SELECT vec_id, cell, r.j, codes[r.j+1] AS code
            FROM cvec, range(8) r(j)) c ON c.cell = p.cell
      JOIN tab t ON t.query_id = p.query_id AND t.j = c.j AND t.code = c.code
      WHERE c.vec_id != p.query_id
      GROUP BY p.query_id, c.vec_id
    ),
    short AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY s DESC, vec_id
               ) AS rk
        FROM scores
      ) WHERE rk <= 500
    ),
    rerank AS (
      SELECT sh.query_id, sh.vec_id,
             round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS cosine
      FROM short sh
      JOIN embeddings e ON e.vec_id = sh.vec_id
      JOIN qs q ON q.query_id = sh.query_id
    )
    SELECT query_id, vec_id, cosine FROM (
      SELECT query_id, vec_id, cosine,
             row_number() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, vec_id
             ) AS rk
      FROM rerank
    ) WHERE rk <= 10
    ORDER BY query_id, cosine DESC, vec_id
    """,
    description="Batch IVF-PQ join over the persisted compressed index "
    "(r16): 3 query vectors get ADC-shortlisted, exact-reranked cosine "
    "top-10 in ONE distributed plan — the ADC table is a RELATION "
    "(query frame ⋈ broadcast persisted codebooks), candidate codes in "
    "the probed cells explode to (query, vec, subspace, code) and one "
    "hash join + sum reassembles the score, so there are NO per-query "
    "driver round-trips or plan literals (the single probe builds its "
    "m×k table driver-side — correct online, unusable at the "
    "million-query retrieval shape). Probed code partitions are read "
    "once regardless of fan-in; only shortlist ids touch raw vectors; "
    "defaults are the measured 6×500 operating point",
)
def ann_ivfpq_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _ensure_ivfpq(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ivfpq_batch_topk(
        spark, idx, emb.where(F.col("vec_id") < 3), emb,
        10, n_probe=6, shortlist=500,
    )


def _hybrid_frk_ctes() -> str:
    # lexical side: the shared BM25 rk derivation (top 20 per query);
    # semantic side: the ann_ivf_batch probe re-derivation over the SAME
    # committed ivf8 index (3 query vectors = embeddings 0..2, mapped to
    # q1..q3), cosine rounded BEFORE ranking; fusion: RRF with c=60,
    # fused score rounded before the final ranking (ties on doc_id).
    # Shared (through ``frk``) by hybrid_rrf_topk's oracle and the
    # retrieval_quality_hybrid metrics oracle.
    return f"""{_BM25_RK_CTES},
    hq AS (
      SELECT vec_id AS qvid, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 3
    ),
    cent AS (
      SELECT CAST(cell AS INT) AS cell, CAST(centroid AS DOUBLE[]) AS centroid
      FROM read_parquet('{_ORACLE_IVF_DIR}/centroids/*.parquet')
    ),
    cranked AS (
      SELECT hq.qvid, cent.cell,
             row_number() OVER (
               PARTITION BY hq.qvid
               ORDER BY list_distance(cent.centroid, hq.qv), cent.cell
             ) AS crk
      FROM cent, hq
    ),
    probe AS (SELECT qvid, cell FROM cranked WHERE crk <= 3),
    cand AS (
      SELECT CAST(vec_id AS BIGINT) AS vec_id,
             CAST(arr AS DOUBLE[]) AS arr,
             CAST(cell AS INT) AS cell
      FROM read_parquet('{_ORACLE_IVF_DIR}/cells/*/*.parquet',
                        hive_partitioning=1)
    ),
    sscored AS (
      SELECT p.qvid, c.vec_id,
             round(list_cosine_similarity(c.arr, h.qv), 6) AS cosine
      FROM probe p
      JOIN cand c ON c.cell = p.cell
      JOIN hq h ON h.qvid = p.qvid
      WHERE c.vec_id != p.qvid
    ),
    srk AS (
      SELECT qvid, vec_id,
             row_number() OVER (
               PARTITION BY qvid ORDER BY cosine DESC, vec_id
             ) AS rank
      FROM sscored
    ),
    sem AS (
      SELECT 'q' || CAST(qvid + 1 AS VARCHAR) AS query_id,
             vec_id AS doc_id, rank
      FROM srk WHERE rank <= 20
    ),
    lex AS (SELECT query_id, doc_id, rank FROM rk WHERE rank <= 20),
    allc AS (
      SELECT query_id, doc_id, 1.0 / (60 + rank) AS contrib FROM lex
      UNION ALL
      SELECT query_id, doc_id, 1.0 / (60 + rank) AS contrib FROM sem
    ),
    fused AS (
      SELECT query_id, doc_id, round(sum(contrib), 6) AS score
      FROM allc GROUP BY 1, 2
    ),
    frk AS (
      SELECT query_id, doc_id, score,
             row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id
             ) AS rank
      FROM fused
    )"""


def _hybrid_oracle() -> str:
    return f"""
    WITH {_hybrid_frk_ctes()}
    SELECT query_id, doc_id, score, rank FROM frk
    WHERE rank <= 10 ORDER BY query_id, rank
    """


@query(
    "hybrid_rrf_topk",
    tier="local",
    oracle=_hybrid_oracle,
    description="Hybrid retrieval: BM25 lexical top-20 and IVF-ANN "
    "semantic top-20 per query, fused by Reciprocal Rank Fusion "
    "(Cormack 2009; score = sum 1/(60+rank)) — the standard combiner "
    "RAG stacks run because ranks fuse robustly where score scales "
    "don't. Per query: q1..q3 pair the _BM25_QUERIES term sets with "
    "embeddings 0..2 as query vectors over the aligned doc/vec id "
    "space. Both sides are top-N relations (queries x N rows, never "
    "corpus-sized), the ANN side probes the committed partition-pruned "
    "ivf8 index, and the fusion is one union + tiny groupBy + one "
    "window; the oracle re-derives BOTH rankings and the fused scores "
    "from the same token stream and committed index parquet",
)
def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators import retrieval as R

    docs = load_table(spark, sf_dir, "documents")
    queries = spark.createDataFrame(_BM25_QUERIES, "query_id string, term string")
    lex = R.bm25_topk(docs, queries, k=20).select("query_id", "doc_id", "rank")

    idx = _ensure_ivf8(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    sem_hits = S.ivf_batch_topk(
        spark, idx, emb.where(F.col("vec_id") < 3), k=20, n_probe=3
    )
    sem = sem_hits.select(
        F.concat(F.lit("q"), (F.col("query_id") + 1).cast("string")).alias(
            "query_id"
        ),
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(
            Window.partitionBy("query_id").orderBy(
                F.col("cosine").desc(), F.col("vec_id").asc()
            )
        )
        .alias("rank"),
    )
    return R.rrf_fuse([lex, sem], k=10).orderBy("query_id", "rank")


# Binary relevance + IR metric derivation shared by the retrieval
# quality oracles: a doc is RELEVANT to a query iff it contains EVERY
# one of the query's terms (derivable from the same token stream the
# BM25 CTEs already build), and the metrics are pure arithmetic over
# the rank positions of relevant hits — both sides round to 6 dp.
# Expects CTEs ``q`` and ``t2`` (from _BM25_RK_CTES) and a ranking CTE
# ``rr(query_id, doc_id, rank)`` with rank <= 10.
_IR_METRIC_TAIL = """
    nt AS (SELECT query_id, count(DISTINCT term) AS nt FROM q GROUP BY 1),
    hitc AS (
      SELECT q.query_id, t2.doc_id, count(DISTINCT t2.tok) AS hit
      FROM q JOIN t2 ON t2.tok = q.term GROUP BY 1, 2
    ),
    rel AS (
      SELECT hitc.query_id, hitc.doc_id
      FROM hitc JOIN nt ON nt.query_id = hitc.query_id AND hitc.hit = nt.nt
    ),
    hits AS (
      SELECT rr.query_id, rr.rank,
             CASE WHEN rel.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_rel
      FROM rr LEFT JOIN rel
        ON rel.query_id = rr.query_id AND rel.doc_id = rr.doc_id
    ),
    nrel AS (SELECT query_id, count(*) AS n_relevant FROM rel GROUP BY 1),
    aggm AS (
      SELECT query_id,
             sum(is_rel) AS n_hit,
             coalesce(max(CASE WHEN is_rel = 1 THEN 1.0 / rank END), 0.0) AS mrr0,
             sum(CASE WHEN is_rel = 1 THEN 1.0 / log2(rank + 1.0) ELSE 0 END) AS dcg
      FROM hits GROUP BY 1
    ),
    idcg AS (
      SELECT n.query_id, sum(1.0 / log2(g.i + 1.0)) AS idcg
      FROM nrel n JOIN generate_series(1, 10) g(i) ON g.i <= least(n.n_relevant, 10)
      GROUP BY 1
    ),
    qu AS (
      -- query universe = ranked queries UNION relevant-set queries,
      -- mirroring the Spark side's full_outer join (ADVICE r13): a
      -- query with zero all-terms-relevant docs, or one absent from
      -- the ranking, still emits a row with zero metrics instead of
      -- being dropped by an inner join.
      SELECT query_id FROM aggm UNION SELECT query_id FROM nrel
    )
    SELECT qu.query_id,
           CAST(coalesce(n.n_relevant, 0) AS BIGINT) AS n_relevant,
           round(CASE WHEN coalesce(n.n_relevant, 0) > 0
                 THEN coalesce(a.n_hit, 0) * 1.0 / n.n_relevant
                 ELSE 0.0 END, 6) AS recall_at_k,
           round(coalesce(a.n_hit, 0) / 10.0, 6) AS precision_at_k,
           round(coalesce(a.mrr0, 0.0), 6) AS mrr,
           round(CASE WHEN coalesce(n.n_relevant, 0) > 0
                 THEN coalesce(a.dcg, 0) / i.idcg
                 ELSE 0.0 END, 6) AS ndcg_at_k
    FROM qu LEFT JOIN aggm a USING (query_id)
            LEFT JOIN nrel n USING (query_id)
            LEFT JOIN idcg i USING (query_id)
    ORDER BY qu.query_id
"""


def _relevance_all_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, doc_id) binary relevance: the doc contains every one
    of the query's terms — the Spark twin of the oracle's rel CTE."""
    docs = load_table(spark, sf_dir, "documents")
    qdf = spark.createDataFrame(_BM25_QUERIES, "query_id string, term string")
    ne = F.filter(X.tokens("text"), lambda t: t != "")
    toks = docs.select("doc_id", F.explode(ne).alias("tok"))
    hit = (
        toks.join(F.broadcast(qdf), toks["tok"] == qdf["term"])
        .groupBy("query_id", "doc_id")
        .agg(F.count_distinct("tok").alias("hit"))
    )
    nt = qdf.groupBy("query_id").agg(F.count_distinct("term").alias("nt"))
    return (
        hit.join(F.broadcast(nt), "query_id")
        .where(F.col("hit") == F.col("nt"))
        .select("query_id", "doc_id")
    )


@query(
    "retrieval_quality_bm25",
    tier="local",
    oracle=lambda: f"""
    WITH {_BM25_RK_CTES},
    rr AS (SELECT query_id, doc_id, rank FROM rk WHERE rank <= 10),
    {_IR_METRIC_TAIL}
    """,
    description="Retrieval quality evaluation of the BM25 lexical "
    "ranking: recall@10, precision@10, MRR, and nDCG@10 per query "
    "against a binary relevance set (docs containing every query term), "
    "as pure relational aggregates — one join of the (queries x k) "
    "ranking against the relevance dim, no corpus window; the oracle "
    "re-derives ranking, relevance, and every metric from the same "
    "token stream",
)
def retrieval_quality_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import retrieval as R

    docs = load_table(spark, sf_dir, "documents")
    qdf = spark.createDataFrame(_BM25_QUERIES, "query_id string, term string")
    # ranking and relevance from ONE shared token stream (VERDICT r17
    # #4): the fused operator derives the all-terms relevance set from
    # the same materialized matched-tf relation the scorer reads —
    # 2 corpus tokenize passes total instead of ~7
    ranking, rel = R.bm25_topk_with_relevance(docs, qdf, k=10)
    return R.retrieval_quality_metrics(ranking, rel, k=10).orderBy("query_id")


@query(
    "retrieval_quality_hybrid",
    tier="local",
    oracle=lambda: f"""
    WITH {_hybrid_frk_ctes()},
    rr AS (SELECT query_id, doc_id, rank FROM frk WHERE rank <= 10),
    {_IR_METRIC_TAIL}
    """,
    description="Retrieval quality evaluation of the HYBRID "
    "(BM25 + IVF-ANN, RRF-fused) ranking with the same binary relevance "
    "and metric definitions as retrieval_quality_bm25 — the paired "
    "measurement that quantifies what semantic fusion adds over "
    "lexical-only ranking; the oracle re-derives both rankings, the "
    "fusion, and the metrics end to end",
)
def retrieval_quality_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import retrieval as R

    ranking = hybrid_rrf_topk(spark, sf_dir).select("query_id", "doc_id", "rank")
    return R.retrieval_quality_metrics(
        ranking, _relevance_all_terms(spark, sf_dir), k=10
    ).orderBy("query_id")


# ---------------------------------------------------------------------------
# Text-derived embeddings (feature-hashed TF-IDF projection — VERDICT r13 #2)
# ---------------------------------------------------------------------------


def _text_embed_ctes() -> str:
    """Embedding derivation shared by the text-embed oracles. Expects a
    CTE ``t2(doc_id, tok)`` (the BM25 token stream); defines
    ``feat2(tok, bucket, sgn, idf)``, ``dvec(doc_id, bucket, v)``,
    ``dnrm(doc_id, nrm)``, and the l2-normalized ``du(doc_id, bucket,
    u)`` — the exact SQL twin of ``operators.embedding``'s
    hash/sign/idf recipe (md5-derived token_base_hash, bucket = h %
    64, sign from bit (h // 64) % 2, idf = ln((N+1)/(df+1)))."""
    return """
    nn AS (SELECT count(*) AS n FROM documents),
    dfm AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t2 GROUP BY 1),
    feat2 AS (
      SELECT tok, CAST(h % 64 AS INT) AS bucket,
             CASE WHEN (h // 64) % 2 = 0 THEN 1.0 ELSE -1.0 END AS sgn,
             ln((nn.n + 1.0) / (df + 1.0)) AS idf
      FROM (
        SELECT tok, df,
               CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT)
                 % 2147483647 AS h
        FROM dfm
      ) CROSS JOIN nn
    ),
    tfm AS (SELECT doc_id, tok, count(*) AS tf FROM t2 GROUP BY 1, 2),
    dvec AS (
      SELECT tfm.doc_id, f.bucket, sum(f.sgn * tfm.tf * f.idf) AS v
      FROM tfm JOIN feat2 f USING (tok) GROUP BY 1, 2
    ),
    dnrm AS (SELECT doc_id, sqrt(sum(v * v)) AS nrm FROM dvec GROUP BY 1),
    du AS (
      SELECT d.doc_id, d.bucket, d.v / n.nrm AS u
      FROM dvec d JOIN dnrm n USING (doc_id) WHERE n.nrm > 0
    )"""


@query(
    "ann_text_embed_topk",
    tier="local",
    # promoted to the driver tier in r15 (VERDICT r14 #6); demoted back
    # to local in r17 to make room for ann_ivfpq_batch under the
    # exactly-50 cap (VERDICT r16 #2): the text encoder + ANN path
    # stays driver-verified through retrieval_quality_hybrid_textemb
    # (which embeds the SAME query set with the SAME encoder and fuses
    # its ANN ranking), and this row plus the ivf/batch twins remain
    # oracle-parity-checked at the local tier every round
    # The deterministic text encoder end to end: embeddings are derived
    # FROM DOCUMENT TEXT (feature-hashed TF-IDF, signed projection,
    # l2-normalized), so semantic neighbors correlate with lexical
    # content — the property the random fixture embeddings lack
    # (VERDICT r13 #2). Query = doc 0's own embedding; cosine of unit
    # vectors = dot over shared hash buckets, rounded to 6 dp BEFORE
    # ranking (ties on doc_id) so both engines derive identical sets.
    oracle=f"""
    WITH t2 AS (
      SELECT doc_id, tok FROM (
        SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
        FROM documents
      ) WHERE tok <> ''
    ),
    {{embed}}
    ,
    qu AS (SELECT bucket, u FROM du WHERE doc_id = 0)
    -- left-join ALL docs with coalesce(dot, 0): zero-norm docs and docs
    -- sharing no hash bucket with the query are kept at cosine 0.0,
    -- exactly like the engine's zero-vector dot (ADVICE r14 — on a
    -- degenerate corpus with < 10 positive-cosine neighbors the inner
    -- join under-produced vs the engine's padded top-10)
    SELECT d.doc_id, round(coalesce(s.dot, 0.0), 6) AS cosine
    FROM (SELECT doc_id FROM documents WHERE doc_id != 0) d
    LEFT JOIN (
      SELECT du.doc_id, sum(du.u * q.u) AS dot
      FROM du JOIN qu q USING (bucket) GROUP BY du.doc_id
    ) s USING (doc_id)
    ORDER BY cosine DESC, doc_id
    LIMIT 10
    """.replace("{embed}", _text_embed_ctes()),
    description="Text-derived semantic top-k: documents embedded by the "
    "deterministic feature-hashing encoder (signed md5-hashed TF-IDF "
    "projection to 64 dims, Weinberger 2009; one token explode + two "
    "hash aggs + a broadcast vocab join, zero UDFs), then cosine top-10 "
    "to document 0's embedding — the semantic-neighbor query where "
    "neighbors provably correlate with document content, and the "
    "encoder behind the hybrid fusion-gain measurement",
)
def ann_text_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import embedding as E

    docs = load_table(spark, sf_dir, "documents")
    # ONE encoder pass (r17): the query row's .first() and the corpus
    # scan below otherwise each re-run the full tokenize+hash+idf
    # encoder lineage; the materialized relation is docs x dim doubles
    emb = E.hashed_tfidf_embed(docs, dim=64).localCheckpoint(eager=True)
    qrow = emb.where(F.col("doc_id") == 0).first()
    cos = F.round(V.dot("embedding", V.array_sql(qrow["embedding"])), 6)
    return (
        emb.where(F.col("doc_id") != 0)
        .select("doc_id", cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("doc_id"))
        .limit(10)
    )


@query(
    "retrieval_quality_hybrid_textemb",
    # promoted to the driver tier in r15 (VERDICT r14 #6)
    # The fusion-gain measurement the r13 verdict asked for: hybrid RRF
    # over BM25 AND a semantic side whose embeddings are TEXT-DERIVED
    # (same encoder as ann_text_embed_topk; query vectors = the SAME
    # term sets embedded with tf=1), evaluated with the shared IR
    # metric tail against the all-terms relevance set — directly
    # comparable to retrieval_quality_bm25 row for row. The oracle
    # re-derives the encoder, both rankings, the fusion, and the
    # metrics end to end.
    oracle=lambda: f"""
    WITH {_BM25_RK_CTES},
    {_text_embed_ctes()},
    qterm AS (SELECT DISTINCT query_id, term AS tok FROM q),
    qvec0 AS (
      SELECT qt.query_id, f.bucket, sum(f.sgn * f.idf) AS v
      FROM qterm qt JOIN feat2 f USING (tok) GROUP BY 1, 2
    ),
    qnrm AS (SELECT query_id, sqrt(sum(v * v)) AS nrm FROM qvec0 GROUP BY 1),
    quv AS (
      SELECT q0.query_id, q0.bucket, q0.v / n.nrm AS u
      FROM qvec0 q0 JOIN qnrm n USING (query_id) WHERE n.nrm > 0
    ),
    sscore AS (
      SELECT qq.query_id, d.doc_id, round(coalesce(s.dot, 0.0), 6) AS cosine
      FROM (SELECT DISTINCT query_id FROM q) qq
      CROSS JOIN (SELECT doc_id FROM documents) d
      LEFT JOIN (
        SELECT quv.query_id, du.doc_id, sum(du.u * quv.u) AS dot
        FROM du JOIN quv USING (bucket) GROUP BY 1, 2
      ) s ON s.query_id = qq.query_id AND s.doc_id = d.doc_id
    ),
    sem AS (
      SELECT query_id, doc_id, rank FROM (
        SELECT query_id, doc_id,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY cosine DESC, doc_id
               ) AS rank
        FROM sscore
      ) WHERE rank <= 20
    ),
    lex AS (SELECT query_id, doc_id, rank FROM rk WHERE rank <= 20),
    allc AS (
      SELECT query_id, doc_id, 1.0 / (60 + rank) AS contrib FROM lex
      UNION ALL
      SELECT query_id, doc_id, 1.0 / (60 + rank) AS contrib FROM sem
    ),
    fused AS (
      SELECT query_id, doc_id, round(sum(contrib), 6) AS score
      FROM allc GROUP BY 1, 2
    ),
    frk AS (
      SELECT query_id, doc_id, score,
             row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id
             ) AS rank
      FROM fused
    ),
    rr AS (SELECT query_id, doc_id, rank FROM frk WHERE rank <= 10),
    {_IR_METRIC_TAIL}
    """,
    description="Retrieval quality of the TEXT-EMBEDDING hybrid: BM25 "
    "top-20 fused (RRF c=60) with cosine top-20 under the deterministic "
    "text encoder — query vectors embed the SAME term sets the lexical "
    "side searches, so the semantic arm carries real signal about "
    "document content instead of random fixture noise; evaluated with "
    "the shared recall/precision/MRR/nDCG tail against all-terms "
    "relevance, row-comparable to retrieval_quality_bm25 (the paired "
    "fusion-gain measurement, VERDICT r13 #2)",
)
def retrieval_quality_hybrid_textemb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators import embedding as E
    from ..operators import retrieval as R

    docs = load_table(spark, sf_dir, "documents")
    qdf = spark.createDataFrame(_BM25_QUERIES, "query_id string, term string")
    # lexical ranking and the relevance set share ONE token stream
    # (VERDICT r17 #4) — see retrieval_quality_bm25
    lex20, rel = R.bm25_topk_with_relevance(docs, qdf, k=20)
    lex = lex20.select("query_id", "doc_id", "rank")
    # the vocabulary feature table feeds BOTH the document and the query
    # encoder: materialize it once (vocab-sized, kilobytes) instead of
    # re-running the corpus explode+aggregate per consumer (r17)
    feats = E.hashed_token_features(docs, dim=64).localCheckpoint(eager=True)
    demb = E.hashed_tfidf_embed(docs, dim=64, feats=feats)
    qemb = E.embed_terms(qdf, feats, dim=64)
    cos = F.round(V.dot("embedding", "qv"), 6)
    sem = (
        demb.crossJoin(F.broadcast(qemb))
        .select("query_id", "doc_id", cos.alias("cosine"))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("cosine"), F.asc("doc_id")
                )
            ),
        )
        .where(F.col("rank") <= 20)
        .select("query_id", "doc_id", "rank")
    )
    fused = R.rrf_fuse([lex, sem], k=10).select("query_id", "doc_id", "rank")
    return R.retrieval_quality_metrics(fused, rel, k=10).orderBy("query_id")


# ---------------------------------------------------------------------------
# DSIR importance resampling (targeted data selection, Xie et al. 2023)
# ---------------------------------------------------------------------------


@query(
    "dsir_select",
    tier="local",
    # Exact: both bucketed n-gram distributions, every log-ratio, every
    # per-doc weight, and the deterministic Gumbel perturbation are
    # re-derived in DuckDB from the same md5 folds; ranking happens on
    # the 6-dp-rounded key on both sides (ties on doc_id).
    oracle=f"""
    WITH lt AS (
      SELECT doc_id, source,
             list_filter(string_split(trim(text), ' '), t -> t <> '') AS ts
      FROM documents
    ),
    tk AS (
      SELECT doc_id, source, unnest(ts) AS g, generate_subscripts(ts, 1) AS i
      FROM lt
    ),
    grams AS (
      SELECT doc_id, source, g FROM tk
      UNION ALL
      SELECT a.doc_id, a.source, a.g || '_' || b.g
      FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND b.i = a.i + 1
    ),
    feat AS (
      SELECT doc_id, source,
             CAST((CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT)
                   % 2147483647) % 1024 AS INT) AS bucket,
             count(*) AS n
      FROM grams GROUP BY 1, 2, 3
    ),
    rawc AS (SELECT bucket, sum(n) AS cr FROM feat
             WHERE source NOT IN ({_DSIR_T}) GROUP BY 1),
    tgtc AS (SELECT bucket, sum(n) AS ct FROM feat
             WHERE source IN ({_DSIR_T}) GROUP BY 1),
    tot AS (SELECT (SELECT sum(cr) FROM rawc) AS rt,
                   (SELECT sum(ct) FROM tgtc) AS tt),
    lam AS (
      SELECT r.bucket,
             ln((coalesce(t.ct, 0) + 1.0) / (tot.tt + 1024.0))
           - ln((r.cr + 1.0) / (tot.rt + 1024.0)) AS lam
      FROM rawc r LEFT JOIN tgtc t USING (bucket) CROSS JOIN tot
    ),
    w AS (
      SELECT f.doc_id, sum(f.n * lam.lam) AS logw
      FROM feat f JOIN lam USING (bucket)
      WHERE f.source NOT IN ({_DSIR_T})
      GROUP BY 1
    ),
    keyed AS (
      SELECT doc_id, round(logw, 6) AS logw,
             round(logw + (-ln(-ln(
               ((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                      AS BIGINT) % 2147483647) + 1.0) / 2147483648.0
             ))), 6) AS key
      FROM w
    ),
    rk AS (
      SELECT doc_id, logw, key,
             row_number() OVER (ORDER BY key DESC, doc_id) AS rank
      FROM keyed
    )
    SELECT doc_id, logw, key, rank FROM rk WHERE rank <= 50 ORDER BY rank
    """,
    description="DSIR importance resampling (Xie et al., NeurIPS 2023): "
    "hashed unigram+bigram distributions (md5 fold mod 1024) for a target "
    "domain sample and the raw pool — both B-row tables at ANY corpus "
    "size; per-candidate log importance ratio via one broadcast join + "
    "one per-doc sum (the classifier-scoring shape); Gumbel-top-k sample "
    "proportional to weights with the perturbation a pure md5 row "
    "function (retry/AQE/partitioning-immune), selected via "
    "TakeOrderedAndProject — zero Python, no global sort",
)
def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.selection import dsir_select_flagged

    docs = load_table(spark, sf_dir, "documents")
    # in-corpus target split -> the fused two-pass variant (equality
    # with the general two-frame path is tested in test_selection.py)
    return dsir_select_flagged(
        docs, F.col("source").isin(*_DSIR_TARGET), k=50
    ).orderBy("rank")


@query(
    "audio_feature_stats",
    tier="local",
    # Audio twin of image_feature_stats: the stand-in payload (md5-hex
    # UTF-8 bytes, 256 = 8 exact digest copies) parses as int16-LE PCM
    # — 128 samples repeating every 16, so RMS/peak over the digest's
    # 16 samples equal the full-clip stats, and every byte's high half
    # is < 0x80 so the signal never crosses zero (zcr identically 0 on
    # both sides). All arithmetic is dyadic-exact (val/2^15, squares
    # within 53 bits), so the hash certifies the Arrow mapInPandas
    # waveform pass bit-for-bit; swap the PCM stub for libsndfile in
    # production, the plan shape is identical.
    oracle="""
    WITH s AS (
      SELECT d.doc_id,
             (ascii(substr(md5(CAST(d.doc_id AS VARCHAR)),
                           ((2 * g.i - 2) % 32) + 1, 1))
              + 256 * ascii(substr(md5(CAST(d.doc_id AS VARCHAR)),
                                   ((2 * g.i - 1) % 32) + 1, 1))) / 32768.0 AS x
      FROM documents d CROSS JOIN generate_series(1, 16) AS g(i)
    )
    SELECT doc_id,
           round(128.0 / 16000.0, 6) AS duration_sec,
           round(sqrt(avg(x * x)), 6) AS rms,
           CAST(0.0 AS DOUBLE) AS zero_crossing_rate,
           round(max(abs(x)), 6) AS peak
    FROM s GROUP BY doc_id ORDER BY doc_id
    """,
    description="Multimodal audio feature extraction: binary PCM payload -> "
    "duration / RMS / zero-crossing rate / peak via the Arrow-batched "
    "mapInPandas waveform pass (silence/clipping/junk filters key on "
    "these); the deterministic stand-in payload lets SQL re-derive every "
    "sample, so the audio path gets the same oracle tier as the image "
    "path",
)
def audio_feature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal as MM

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    feats = MM.extract_audio_features(MM.attach_fake_media(docs))
    return feats.select(
        "doc_id",
        F.round("duration_sec", 6).alias("duration_sec"),
        F.round("rms", 6).alias("rms"),
        F.round("zero_crossing_rate", 6).alias("zero_crossing_rate"),
        F.round("peak", 6).alias("peak"),
    ).orderBy("doc_id")


def _ensure_ivfpq_stream(spark: SparkSession, sf_dir: str) -> str:
    """Build-if-missing + staleness-guarded STREAM-MAINTAINED IVF-PQ
    fixture (VERDICT r16 #3's parity row): an offline
    ``build_ivfpq_index`` over the vec_id%3==0 third of the embeddings
    table (frozen quantizer + frozen codebooks, the serving-deployment
    shape), then the other two thirds replayed as two micro-batches
    through :func:`...streaming.ingest.stream_ivfpq_ingest` with the
    quantization-error drift log on. Everything downstream is a pure
    function of (corpus, seed): the batch order is pinned by feed-file
    mtimes (the corpus-ingest convention), the first batch sets the
    drift baseline, and the flat-layout codebooks/centroids stay at
    stable paths through the upserts' manifest commits — which is what
    lets the DuckDB oracle re-derive the logged per-batch mean
    quantization error from the SAME persisted parquet. Layout:
    ``ivfpq_stream/{idx,feed,ckpt,drift,stream_done.json}``."""
    import glob
    import json
    import os
    import shutil
    import time as _t

    from ..streaming.ingest import stream_ivfpq_ingest

    root = _index_dir(sf_dir, "ivfpq_stream")
    idx = os.path.join(root, "idx")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    fp = list(_emb_fp(_emb_pairs(emb), "vec_id"))
    marker = os.path.join(root, "stream_done.json")
    if os.path.exists(marker):
        with open(marker) as fh:
            if json.load(fh) == fp:
                return root
    shutil.rmtree(root, ignore_errors=True)
    S.build_ivfpq_index(
        emb.where(F.pmod("vec_id", F.lit(3)) == 0), idx,
        n_lists=4, m=8, k=16, seed=42, calibrate_queries=0,
    )
    now = _t.time()
    for i, third in enumerate((1, 2)):
        staged = os.path.join(root, f"__stage_{third}")
        emb.where(F.pmod("vec_id", F.lit(3)) == third).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staged)
        part = glob.glob(os.path.join(staged, "part-*.parquet"))[0]
        dest = os.path.join(root, "feed", f"b{third}.parquet")
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.copyfile(part, dest)
        shutil.rmtree(staged)
        os.utime(dest, (now + i * 100, now + i * 100))
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(root, "feed"))
    )
    stream_ivfpq_ingest(
        stream, idx,
        checkpoint=os.path.join(root, "ckpt"),
        drift_log=os.path.join(root, "drift"),
    )
    with open(marker, "w") as fh:
        json.dump(fp, fh)
    return root


_ORACLE_PQSTREAM_DIR = _index_dir("sf0.01", "ivfpq_stream")


@query(
    "ann_ivfpq_stream_drift",
    tier="local",
    # The streaming COMPRESSED-tier maintenance path verified against
    # SQL end to end (VERDICT r16 #3): the drift log's per-batch mean
    # quantization error is Σ_j min_c ||x_j − book[j][c]||² averaged
    # over the batch — re-derivable in SQL because the codebooks are
    # FROZEN at stable flat paths and the batch membership is a pure
    # function of vec_id (thirds, mtime-ordered feed). A torn upsert,
    # a re-encoded batch under different books, a duplicated drift row
    # (redelivery bug), or a baseline drifting off the first batch all
    # diverge this row.
    oracle=f"""
    WITH books AS (
      SELECT CAST(subspace AS INT) AS j, CAST(centroid AS DOUBLE[]) AS bc
      FROM read_parquet('{_ORACLE_PQSTREAM_DIR}/idx/codebooks/*.parquet')
    ),
    e AS (
      SELECT vec_id, CAST(vec_id % 3 AS INT) AS third,
             CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id % 3 != 0
    ),
    n AS (
      SELECT vec_id, third,
             list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y)))) AS nv
      FROM e
    ),
    dist AS (
      SELECT n.vec_id, n.third, b.j,
             min(power(list_distance(b.bc, n.nv[b.j*8+1 : b.j*8+8]), 2)) AS mind
      FROM n, books b
      GROUP BY n.vec_id, n.third, b.j
    ),
    qe AS (
      SELECT vec_id, third, sum(mind) AS qerr FROM dist GROUP BY vec_id, third
    ),
    agg AS (
      SELECT third, count(*) AS n, avg(qerr) AS mq FROM qe GROUP BY third
    )
    SELECT * FROM (
      SELECT CAST(0 AS BIGINT) AS batch_id, n, round(mq, 6) AS mean_qerr,
             CAST(1.0 AS DOUBLE) AS drift_ratio, FALSE AS refit_due
      FROM agg WHERE third = 1
      UNION ALL
      SELECT CAST(1 AS BIGINT), a2.n, round(a2.mq, 6),
             round(a2.mq / round(a1.mq, 6), 6),
             round(a2.mq / round(a1.mq, 6), 6) > 1.3
      FROM agg a1, agg a2 WHERE a1.third = 1 AND a2.third = 2
    ) ORDER BY batch_id
    """,
    description="Streaming IVF-PQ maintenance drift log (VERDICT r16 #3): "
    "two thirds of the embeddings table replay as micro-batches into an "
    "offline-built frozen-codebook index via stream_ivfpq_ingest "
    "(snapshot-atomic ivfpq_upsert per batch); each batch logs its mean "
    "quantization error under the frozen codebooks — the PQ-specific "
    "drift signal coarse assignment distance cannot see — with "
    "drift_ratio against the first batch's baseline and the refit_due "
    "flag. Same-distribution thirds stay under the 1.3 bar; the SQL "
    "oracle recomputes every per-vector reconstruction error from the "
    "persisted codebooks",
)
def ann_ivfpq_stream_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    root = _ensure_ivfpq_stream(spark, sf_dir)
    return (
        spark.read.parquet(os.path.join(root, "drift"))
        .select("batch_id", "n", "mean_qerr", "drift_ratio", "refit_due")
        .orderBy("batch_id")
    )
