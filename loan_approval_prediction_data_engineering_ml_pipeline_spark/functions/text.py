"""Text-analysis expressions — all pure ``pyspark.sql.functions`` column
expressions (JVM-side, codegen'd, no Python in the hot path), designed so a
DuckDB oracle can compute byte-identical values.

These power the LLM-training-data operators (dedup, language ID, quality
scoring, token counting, fingerprinting) over the ``documents`` table.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Marker stopword lists for the n-gram/stopword language-ID heuristic.
# Deliberately tiny and hard-coded: the heuristic must be a pure
# deterministic function so the oracle can replicate it.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "fr": ["le", "la", "les", "et", "est", "un"],
}

STOPWORDS = LANG_MARKERS["en"]


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (single-space corpus): split(trim(text), ' ')."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), " ")


def distinct_tokens(col: Column | str) -> Column:
    """Sorted distinct token set — the canonical set representation used by
    jaccard / minhash so Spark and the oracle agree element-for-element."""
    return F.array_sort(F.array_distinct(tokens(col)))


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


MINHASH_PRIME = 2147483647  # 2^31 - 1: products stay under 2^62 (no BIGINT overflow in Spark ANSI or DuckDB)


def minhash_coeffs(i: int) -> tuple[int, int]:
    """Deterministic affine-permutation coefficients (a, b) for slot i,
    derived from md5 so the DuckDB oracle generator shares the exact
    constants (plans/llm_data.py embeds them as literals)."""
    import hashlib

    h = hashlib.md5(f"minhash:{i}".encode()).hexdigest()
    a = int(h[:8], 16) % (MINHASH_PRIME - 1) + 1
    b = int(h[8:16], 16) % MINHASH_PRIME
    return a, b


def token_base_hash(tok: Column) -> Column:
    """Deterministic base hash of a token in [0, 2^31-1), identical in
    DuckDB: CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) % p.

    15 hex digits = 60 bits, always positive, exact in BIGINT on both
    engines; the mod-p fold keeps later affine products overflow-free.
    """
    return (
        F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long") % MINHASH_PRIME
    )


def minhash_signature(col: Column | str, k: int = 16) -> Column:
    """k-permutation MinHash signature of the token *set* as array<long>.

    The base hash is computed ONCE per token into an array, then each
    slot is min over a cheap affine transform of that array — all with
    ``transform`` + ``array_min`` per row: no explode, no shuffle, no
    UDF, and exactly one md5 per token regardless of k. At 100 TB this
    is the property that matters: signature computation is
    embarrassingly parallel map work; only the band-bucket join
    shuffles, and it shuffles k·8-byte signatures, not documents.
    """
    base = F.transform(distinct_tokens(col), token_base_hash)

    def affine(i: int):
        a, b = minhash_coeffs(i)
        # NB: must be a unary lambda — pyspark treats a 2-arg lambda as
        # (element, index) and would shadow the coefficients.
        return lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_PRIME

    return F.array(*[F.array_min(F.transform(base, affine(i))) for i in range(k)])


def jaccard(a_set: Column, b_set: Column) -> Column:
    """Exact Jaccard of two distinct-element arrays (unigram shingle sets)."""
    inter = F.size(F.array_intersect(a_set, b_set))
    union = F.size(F.array_union(a_set, b_set))
    return inter / union


def word_ngrams(col: Column | str, n: int, *, toks: Column | None = None) -> Column:
    """ALL n-gram word shingles (duplicates preserved, positional order)
    via sequence+transform+slice — built-ins only.

    Documents shorter than n tokens yield an empty array — without the
    guard, sequence(1, 0) counts DOWN ([1, 0]) and slice(toks, 0, n) is
    a runtime error. ``toks``: optionally a projected :func:`tokens`
    column to reuse one split across statistics."""
    t = tokens(col) if toks is None else toks
    idx = F.sequence(F.lit(1), F.size(t) - (n - 1))
    return F.when(
        F.size(t) >= n,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i, n))),
    ).otherwise(F.array().cast("array<string>"))


def word_shingles(col: Column | str, n: int) -> Column:
    """Distinct n-gram word shingles (the set representation minhash /
    Jaccard operate on)."""
    return F.array_distinct(word_ngrams(col, n))


def dup_ngram_fraction(col: Column | str, n: int) -> Column:
    """Fraction of a document's n-grams that are repeats of an earlier
    occurrence: 1 - distinct/total. Map-only (no shuffle, no UDF) — the
    Gopher-style repetition signal used to flag boilerplate/spam docs.
    Empty n-gram lists (doc shorter than n tokens) score 0.0."""
    grams = word_ngrams(col, n)
    total = F.size(grams)
    return F.when(
        total > 0,
        1.0 - F.size(F.array_distinct(grams)) / total,
    ).otherwise(F.lit(0.0))


def stopword_hits(
    col: Column | str, words: list[str], *, toks: Column | None = None
) -> Column:
    """Occurrence count (not distinct) of marker words among tokens.
    Pass ``toks`` (a projected :func:`tokens` column) to reuse one
    split across several token statistics (the funnel's flag pass)."""
    wl = F.array(*[F.lit(w) for w in words])
    t = tokens(col) if toks is None else toks
    return F.size(F.filter(t, lambda t_: F.array_contains(wl, t_)))


def lang_id(col: Column | str) -> Column:
    """Stopword-profile language ID: argmax of marker-hit counts with a
    deterministic tie-break (CASE order en > de > fr)."""
    en = stopword_hits(col, LANG_MARKERS["en"])
    de = stopword_hits(col, LANG_MARKERS["de"])
    fr = stopword_hits(col, LANG_MARKERS["fr"])
    return (
        F.when((en >= de) & (en >= fr), "en").when(de >= fr, "de").otherwise("fr")
    )


def alpha_ratio(col: Column | str) -> Column:
    # try_divide: empty text must yield null, not a DIVIDE_BY_ZERO abort
    # under Spark 4's default ANSI mode (corpora routinely contain "")
    c = F.col(col) if isinstance(col, str) else col
    return F.try_divide(F.length(F.regexp_replace(c, "[^a-zA-Z]", "")), F.length(c))


def avg_token_len(col: Column | str, *, toks: Column | None = None) -> Column:
    t = tokens(col) if toks is None else toks
    total = F.aggregate(F.transform(t, F.length), F.lit(0), lambda acc, x: acc + x)
    return F.try_divide(total, F.size(t))


def quality_score(col: Column | str, *, toks: Column | None = None) -> Column:
    """Composite document-quality heuristic in [0, ~1]: rewards prose-like
    token length, alphabetic content, and stopword presence; penalizes
    extreme repetition (low distinct-token ratio).

    ``toks``: optionally a projected :func:`tokens` column over the same
    text — callers fusing several token statistics into one pass hoist
    the split once (identical values; the formula is unchanged)."""
    t = tokens(col) if toks is None else toks
    distinct_ratio = F.size(F.array_distinct(t)) / F.size(t)
    stop_ratio = stopword_hits(col, STOPWORDS, toks=toks) / F.size(t)
    return (
        F.least(avg_token_len(col, toks=toks) / F.lit(8.0), F.lit(1.0)) * 0.3
        + alpha_ratio(col) * 0.3
        + F.least(stop_ratio * F.lit(5.0), F.lit(1.0)) * 0.2
        + distinct_ratio * 0.2
    )


# PII masking patterns, kept inside the Java-regex ∩ RE2 common subset
# (no backrefs/lookaround, explicit char classes) so the DuckDB oracle
# runs the literal same patterns. Order matters: URLs first (an URL may
# embed an @-path that the email pattern would half-eat), then emails,
# then phone numbers.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"https?://[A-Za-z0-9./_%+=?&#:-]+", "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\+[0-9]{7,15}", "<PHONE>"),
]


def scrub_pii(col: Column | str) -> Column:
    """Mask URL / email / phone spans with typed placeholder tokens —
    chained regexp_replace, fully codegen'd (the standard pre-training
    scrub pass; at 100 TB this is embarrassingly parallel map work)."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, mask in PII_PATTERNS:
        c = F.regexp_replace(c, pat, mask)
    return c


def fingerprint_md5(col: Column | str) -> Column:
    """Content fingerprint: md5 of lower(trim(text)) — identical in DuckDB."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.lower(F.trim(c)))
