"""Relational operator library (SURVEY.md §2.2-2.5), generalized over any
conforming schema — demonstrated on both the loan star and the TPC-H-ish
fixtures. Every function is lazy DataFrame-in / DataFrame-out and stays
inside Catalyst (no Python UDFs), so filters/pruning push to the scan and
the whole plan is whole-stage-codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import Window as W


def star_join(fact: DataFrame, dims: list[tuple[DataFrame, str]], *, drop_keys: bool = True) -> DataFrame:
    """J1: N-way star equi-join (reference: 3-way merge on Loan_ID,
    LP.ipynb:376-379 cell 7).

    Dimension sides are broadcast-hinted: at any scale a star schema's
    dims are orders of magnitude smaller than the fact table, so the
    join is a map-side hash join — zero shuffle of the fact table.
    USING-style key syntax coalesces the key into one column, matching
    pandas ``merge(on=)``.
    """
    out = fact
    keys = []
    for dim, key in dims:
        out = out.join(F.broadcast(dim), key, "inner")
        keys.append(key)
    if drop_keys:
        out = out.drop(*keys)
    return out


def null_audit(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """P6/A2: per-column null counts, sorted desc — the reference's
    ``df.isnull().sum().sort_values(ascending=False)`` (LP.ipynb:625-626).

    Single pass over the data (one partial-agg per column fused into one
    hash aggregate), then an unpivot of the 1-row result — the unpivot
    touches 1 row, so it is driver-cheap at any scale.
    """
    cols = cols or df.columns
    agg = df.agg(
        *[F.sum(F.col(c).isNull().cast("long")).alias(c) for c in cols]
    )
    stacked = agg.unpivot([], cols, "column_name", "n_nulls")
    return stacked.orderBy(F.desc("n_nulls"), F.asc("column_name"))


def column_profile(df: DataFrame, cols: dict[str, "object"], *, approx: bool = False) -> DataFrame:
    """P6/A2 generalized to the df.info()/describe() profile
    (LP.ipynb:591-626): per-column null count, distinct count, min, max
    for EVERY column in one scan.

    Cost honesty: with exact distinct counts (``approx=False``) Spark
    plans the n countDistincts via RewriteDistinctAggregates — an Expand
    multiplying every input row by n_cols+1 before the partial agg. That
    is oracle-exact and fine at bench scale, but at 100 TB pass
    ``approx=True``: approx_count_distinct swaps each distinct for a
    mergeable HLL sketch — single pass, NO Expand, every aggregate fused
    into one hash aggregate (the same exact-vs-approx trade the percentile
    operators document; the oracle gate keeps the exact form).

    ``cols`` maps column name -> post-aggregation formatter applied to
    min/max before the string cast (identity for numerics; a date_format
    for timestamps so both engines print the same text). Formatting AFTER
    the agg keeps min/max computed on the native type, never on strings.
    """
    nd = F.approx_count_distinct if approx else F.countDistinct

    def prof(name: str, fmt) -> Column:
        c = F.col(name)
        return F.struct(
            F.lit(name).alias("column_name"),
            F.sum(c.isNull().cast("long")).alias("n_nulls"),
            nd(c).alias("n_distinct"),
            fmt(F.min(c)).cast("string").alias("min_value"),
            fmt(F.max(c)).cast("string").alias("max_value"),
        )

    agg = df.agg(*[prof(n, fmt).alias(f"__p{i}") for i, (n, fmt) in enumerate(cols.items())])
    return (
        agg.select(F.explode(F.array(*[f"__p{i}" for i in range(len(cols))])).alias("p"))
        .select("p.*")
        .orderBy(F.desc("n_nulls"), F.asc("column_name"))
    )


def duplicate_count(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """A3: count of rows whose full tuple repeats —
    ``df.duplicated().sum()`` (LP.ipynb:646-647 cell 12).

    Expressed as one aggregation over a groupBy(all cols): rows in
    groups of size g contribute g-1 duplicates. One shuffle on the
    grouping key; no driver-side subtraction of two counts (which would
    scan twice).
    """
    cols = subset or df.columns
    return (
        df.groupBy(*cols)
        .count()
        .agg(F.coalesce(F.sum(F.col("count") - F.lit(1)), F.lit(0)).alias("n_duplicates"))
    )


def value_counts(df: DataFrame, col: str, *, normalize: bool = False, round_to: int = 6) -> DataFrame:
    """A4/A5: grouped frequency, optionally normalized to proportions —
    ``value_counts(normalize=True)`` (LP.ipynb:667-669 cell 13).

    The normalizing total is an unpartitioned window over the *already
    aggregated* counts (cardinality = #distinct values, tiny), not over
    the raw rows — so the single-partition window exchange is safe at
    any scale.
    """
    counts = df.groupBy(col).agg(F.count(F.lit(1)).alias("n"))
    if normalize:
        total = F.sum("n").over(W.partitionBy())
        counts = counts.withColumn("proportion", F.round(F.col("n") / total, round_to))
    return counts.orderBy(F.desc("n"), F.asc(col))


def top_k(df: DataFrame, order_col: str | Column, k: int, *, ascending: bool = False) -> DataFrame:
    """O1+O2: global sort + limit. Spark executes this as a TakeOrderedAndProject
    (per-partition top-k then merge of k-sized heaps) — no full sort at scale."""
    c = F.col(order_col) if isinstance(order_col, str) else order_col
    return df.orderBy(c.asc() if ascending else c.desc()).limit(k)


def salted_join(
    skewed: DataFrame,
    dim: DataFrame,
    key: str,
    *,
    how: str = "inner",
    salt: int = 8,
) -> DataFrame:
    """Skew-mitigated equi-join: the skewed (fact) side gets a random salt
    in [0, salt); the dim side is exploded ``salt`` ways so every
    (key, salt) bucket finds its match. One hot key is thereby spread
    over ``salt`` reducers.

    AQE's skew-join splitting (enabled in session.py) handles most skew
    automatically at runtime; explicit salting remains the tool when a
    single key dominates so heavily that even split partitions overwhelm
    a task, or when the join is sort-merge over a pre-shuffled layout.
    Results match a plain ``join(dim, key, how)`` for inner/left joins
    only — right/full would replicate unmatched dim rows once per salt,
    so those modes are rejected."""
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports inner/left joins, got {how!r}: the "
            "exploded dim side would replicate unmatched rows salt-fold "
            "under right/full outer semantics"
        )
    salted_fact = skewed.withColumn("__salt", (F.rand(42) * salt).cast("int"))
    salted_dim = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    return salted_fact.join(salted_dim, [key, "__salt"], how).drop("__salt")


def grouped_stats(df: DataFrame, group_cols: list[str], value_col: str, *, round_to: int = 6) -> DataFrame:
    """A6/A7/A8: the fit-time aggregation family — mean, stddev (sample),
    exact median, min/max, count — per group in one hash aggregate.

    ``median`` here is exact (sort-based within the agg); at 100 TB
    prefer ``percentile_approx(col, 0.5, accuracy)`` — exposed by the
    ML Imputer path with relativeError=0.0 for parity tests
    (SURVEY.md §7.4.2).
    """
    v = F.col(value_col)
    return (
        df.groupBy(*group_cols)
        .agg(
            F.count(v).alias("n"),
            F.round(F.avg(v), round_to).alias("mean"),
            F.round(F.stddev_samp(v), round_to).alias("stddev"),
            F.round(F.median(v), round_to).alias("median"),
            F.round(F.min(v), round_to).alias("min"),
            F.round(F.max(v), round_to).alias("max"),
        )
        .orderBy(*group_cols)
    )


def bin_by_quantiles(
    df: DataFrame,
    value_col: str,
    *,
    n_bins: int = 4,
    relative_error: float = 0.001,
) -> DataFrame:
    """Equal-frequency binning, the 100 TB path: approx-quantile cut
    points are computed in one sketch pass (driver receives n_bins-1
    doubles, never rows), then applied map-side as a codegen CASE —
    no global sort, no single-task window, unlike exact ntile.

    Returns the input with a ``bin`` column in [1, n_bins]. The exact
    oracle-matched twin is the ``quantile_binning`` registry query;
    edges differ within ``relative_error`` of the true quantiles.
    """
    probs = [i / n_bins for i in range(1, n_bins)]
    cuts = df.approxQuantile(value_col, probs, relative_error)
    v = F.col(value_col)
    # nested CASE built bottom-up: the first cut the value fits under wins
    expr = F.lit(len(cuts) + 1)
    for i in range(len(cuts) - 1, -1, -1):
        expr = F.when(v <= F.lit(cuts[i]), F.lit(i + 1)).otherwise(expr)
    # approxQuantile ignored nulls when placing the cuts; without this
    # guard every NULL would fall through the <= chain into the TOP bin
    expr = F.when(v.isNull(), F.lit(None)).otherwise(expr)
    return df.withColumn("bin", expr)
