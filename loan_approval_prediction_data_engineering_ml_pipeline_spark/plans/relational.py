"""Relational named queries (SURVEY.md §2.2-2.6) over the TPC-H-ish
fixtures, each with a DuckDB oracle twin.

Every query here generalizes a concrete reference operator (file:line
cited per query) onto the driver's star schema — e.g. the reference's
3-way loan-table merge (LP.ipynb:376-379) becomes the customer⋈nation⋈
region star join; its ``value_counts(normalize=True)`` (LP.ipynb:667-669)
becomes the orders-priority share query.

Scale notes apply to every query: dims are broadcast, aggregates are
partial (map-side combine), filters/projections push to the parquet scan,
and nothing collects to the driver. A table no bigger than one file's open
cost (``spark.sql.files.openCostInBytes``, 4 MB by default) is read as one
partition (``sources.loaders.load_table``), so over such inputs the
aggregates, windows, joins and final sorts plan no ``Exchange``: at sf0.1
``window_rank`` and ``asof_join`` run one job, and a global sort runs no
range-sampling job. lineitem at sf0.1, and every fact table at real scale,
keeps the partitioned plans described above.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import Window as W

from ..operators import relational as ops
from ..sources.loaders import load_table
from .registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Flagship: J1 star join + A4 grouped frequency (LP.ipynb:376-379, 667-669)
# ---------------------------------------------------------------------------


@query(
    "star_join_agg",
    oracle="""
    SELECT r_name,
           CAST(count(*) AS BIGINT)        AS n_customers,
           round(avg(c_acctbal), 6)        AS avg_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    ORDER BY r_name
    """,
    description="J1+A4: 3-way star join then grouped count/avg "
    "(reference: applicant⋈financial⋈loan merge, LP.ipynb:376-379)",
)
def star_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey).join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    )
    return (
        joined.groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 6).alias("avg_acctbal"),
        )
        .orderBy("r_name")
    )


# ---------------------------------------------------------------------------
# Projections / filters / audits (§2.2)
# ---------------------------------------------------------------------------


@query(
    "projection_drop",
    # demoted to local tier in r4 to free a driver slot for
    # ml_preprocess_fit_stats (VERDICT r3 #5): P1/P2/P4's surface is
    # contained in every other driver query's projections, and this stays
    # oracle-checked at sf0.01 in tests/test_oracle_parity.py every run
    tier="local",
    oracle="SELECT c_custkey, c_name, c_acctbal FROM customer",
    description="P1/P2/P4: column-list projection / drop "
    "(reference: df.drop('Loan_ID'), LP.ipynb:378)",
)
def projection_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Express as drop (the reference's idiom); Catalyst's ColumnPruning
    # rewrites it to a 3-column parquet scan (ReadSchema shows only these).
    return _t(spark, sf_dir, "customer").drop("c_nationkey", "c_mktsegment")


def _profile_col_sql(col: str, fmt: str) -> str:
    """One UNION ALL branch of the null_audit oracle (DuckDB scans per
    branch; the Spark side is a single-pass struct aggregate)."""
    mn, mx = fmt.format(f"min({col})"), fmt.format(f"max({col})")
    return f"""
    SELECT '{col}' AS column_name,
           CAST(sum(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT {col}) AS BIGINT) AS n_distinct,
           CAST({mn} AS VARCHAR) AS min_value,
           CAST({mx} AS VARCHAR) AS max_value
    FROM lineitem"""


_TS_FMT = "strftime({}, '%Y-%m-%d %H:%M:%S')"
_PROFILE_COLS: list[tuple[str, str]] = [
    ("l_orderkey", "{}"),
    ("l_partkey", "{}"),
    ("l_suppkey", "{}"),
    ("l_quantity", "{}"),
    ("l_discount", "{}"),
    ("l_shipdate", _TS_FMT),
]


@query(
    "null_audit",
    oracle="\nUNION ALL\n".join(_profile_col_sql(c, f) for c, f in _PROFILE_COLS)
    + "\nORDER BY n_nulls DESC, column_name",
    description="P6/A2 + df.info()/describe() analog (LP.ipynb:591-626): "
    "per-column nulls / distinct / min / max in one scan, sorted by null "
    "count desc. Exact multi-column countDistinct plans an Expand "
    "(rows x n_cols+1) — oracle-exact here; at 100 TB use "
    "column_profile(approx=True): HLL sketches, no Expand, plan-asserted "
    "in tests",
)
def null_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    fmts = {
        c: ((lambda x: F.date_format(x, "yyyy-MM-dd HH:mm:ss")) if f is _TS_FMT else (lambda x: x))
        for c, f in _PROFILE_COLS
    }
    return ops.column_profile(li, fmts)


@query(
    "duplicate_count",
    oracle="""
    SELECT CAST(count(*) - (SELECT count(*) FROM (SELECT DISTINCT * FROM lineitem))
           AS BIGINT) AS n_duplicates
    FROM lineitem
    """,
    description="A3: full-tuple duplicate count "
    "(reference: df.duplicated().sum(), LP.ipynb:646-647)",
)
def duplicate_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ops.duplicate_count(_t(spark, sf_dir, "lineitem"))


# ---------------------------------------------------------------------------
# Aggregations (§2.4)
# ---------------------------------------------------------------------------


@query(
    "value_counts_norm",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           round(count(*) * 1.0 / sum(count(*)) OVER (), 6) AS proportion
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY n DESC, o_orderpriority
    """,
    description="A4: normalized value_counts via window-over-total "
    "(reference: Loan_Status value_counts(normalize=True), LP.ipynb:667-669)",
)
def value_counts_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ops.value_counts(_t(spark, sf_dir, "orders"), "o_orderpriority", normalize=True)


@query(
    "grouped_stats",
    oracle="""
    SELECT l_returnflag,
           CAST(count(l_quantity) AS BIGINT) AS n,
           round(avg(l_quantity), 6)         AS mean,
           round(stddev_samp(l_quantity), 6) AS stddev,
           round(median(l_quantity), 6)      AS median,
           round(min(l_quantity), 6)         AS min,
           round(max(l_quantity), 6)         AS max,
           round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
           round(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
           round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
           round(quantile_cont(l_extendedprice, 0.90), 6) AS p90,
           round(corr(l_quantity, l_extendedprice), 6)       AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qty_price,
           round(covar_pop(l_quantity, l_discount), 6)       AS cov_qty_disc
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    description="A6/A7/A8: the full fit-time statistics family — "
    "mean/stddev/exact median/min/max of quantity, exact interpolated "
    "price percentiles, and corr/cov cross-moments (reference: "
    "SimpleImputer median + StandardScaler mu/sigma, LP.ipynb:748-755). "
    "Split into two agg branches joined on the 3-row group key: a "
    "TypedImperativeAggregate (percentile/median) anywhere in an agg "
    "node forces the WHOLE node onto the interpreted ObjectHashAggregate "
    "path, so keeping the eight moment aggregates in their own "
    "whole-stage-codegen HashAggregate is ~30%% faster; both branches "
    "run concurrently in one job. At 100 TB swap percentile for "
    "percentile_approx with tuned accuracy — same operator surface",
)
def grouped_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    qty, price = F.col("l_quantity"), F.col("l_extendedprice")
    probs = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75), F.lit(0.9))
    return _grouped_stats(_t(spark, sf_dir, "lineitem"), F.median(qty), F.percentile(price, probs))


def _grouped_stats(li: DataFrame, median: Column, pcts: Column) -> DataFrame:
    """grouped_stats' two-branch plan: the eight moment aggregates in one
    codegen HashAggregate, joined on l_returnflag to the order statistics
    given here — ``median`` of l_quantity and ``pcts``, the p25/p50/p75/p90
    array of l_extendedprice."""
    qty, price = F.col("l_quantity"), F.col("l_extendedprice")
    moments = li.groupBy("l_returnflag").agg(
        F.count(qty).alias("n"),
        F.round(F.avg(qty), 6).alias("mean"),
        F.round(F.stddev_samp(qty), 6).alias("stddev"),
        F.round(F.min(qty), 6).alias("min"),
        F.round(F.max(qty), 6).alias("max"),
        F.round(F.corr(qty, price), 6).alias("corr_qty_price"),
        F.round(F.covar_samp(qty, price), 4).alias("cov_qty_price"),
        F.round(F.covar_pop(qty, F.col("l_discount")), 6).alias("cov_qty_disc"),
    )
    order_stats = li.groupBy("l_returnflag").agg(
        F.round(median, 6).alias("median"),
        pcts.alias("__p"),
    )
    return (
        moments.join(order_stats, "l_returnflag")
        .select(
            "l_returnflag", "n", "mean", "stddev", "median", "min", "max",
            F.round(F.col("__p")[0], 6).alias("p25"),
            F.round(F.col("__p")[1], 6).alias("p50"),
            F.round(F.col("__p")[2], 6).alias("p75"),
            F.round(F.col("__p")[3], 6).alias("p90"),
            "corr_qty_price", "cov_qty_price", "cov_qty_disc",
        )
        .orderBy("l_returnflag")
    )


@query(
    "grouped_stats_approx",
    tier="local",
    oracle=None,  # approximate by construction (KLL-style sketch); the
    # error bound vs the exact twin is asserted in
    # tests/test_scale_patterns.py and the measured crossover recorded
    # in SCALE.md — this is the 100x default, grouped_stats the oracle
    description="The 100-TB spelling of grouped_stats: percentile_approx "
    "(mergeable sketch, single pass, bounded memory per group) replaces "
    "exact interpolated percentiles; same two-branch split so the eight "
    "moment aggregates stay in whole-stage codegen. Accuracy 10000 "
    "(~1e-4 rank error) — tune DOWN for wider groups at scale",
)
def grouped_stats_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    qty, price = F.col("l_quantity"), F.col("l_extendedprice")
    probs = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75), F.lit(0.9))
    acc = F.lit(10000)
    return _grouped_stats(
        _t(spark, sf_dir, "lineitem"),
        F.percentile_approx(qty, F.lit(0.5), acc),
        F.percentile_approx(price, probs, acc),
    )


@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4)                                       AS sum_qty,
           round(sum(l_extendedprice), 4)                                  AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4)               AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
           round(avg(l_quantity), 6)                                       AS avg_qty,
           round(avg(l_extendedprice), 6)                                  AS avg_price,
           round(avg(l_discount), 6)                                       AS avg_disc,
           CAST(count(*) AS BIGINT)                                        AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    description="A1/A8 generalization: TPC-H Q1-shaped pricing summary — "
    "filtered scan, 8 partial aggs, two-key group",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "derived_arithmetic",
    tier="local",  # F4 derived arithmetic is also driver-verified inside pricing_summary (sum_disc_price/sum_charge)
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem
    WHERE l_discount BETWEEN 0.04 AND 0.06 AND l_quantity < 24
    """,
    description="F4: derived-column arithmetic under a pushed-down filter "
    "(reference: Total_Income = ApplicantIncome + CoapplicantIncome, "
    "app.py:50); TPC-H Q6 shape",
)
def derived_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_discount").between(0.04, 0.06)) & (F.col("l_quantity") < 24))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Sorts / limits (§2.5)
# ---------------------------------------------------------------------------


@query(
    "top_k_acctbal",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    ORDER BY c_acctbal DESC, c_custkey
    LIMIT 10
    """,
    description="O1/O2: global sort + limit, executed as per-partition top-K "
    "merge (reference: sort_values + head, LP.ipynb:625-626, MY.ipynb:182)",
)
def top_k_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    return c.orderBy(F.desc("c_acctbal"), F.asc("c_custkey")).limit(10)


# ---------------------------------------------------------------------------
# Scalar functions (§2.6)
# ---------------------------------------------------------------------------


@query(
    "conditional_rewrite",
    oracle="""
    SELECT CASE WHEN lang = 'zh' THEN 'zh-cn' ELSE lang END AS lang_norm,
           CAST(count(*) AS BIGINT) AS n
    FROM documents
    GROUP BY lang_norm
    ORDER BY lang_norm
    """,
    description="F1: conditional string domain rewrite "
    "(reference: Dependents '3+' -> '3', LP.ipynb:679)",
)
def conditional_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    lang_norm = F.when(F.col("lang") == "zh", "zh-cn").otherwise(F.col("lang"))
    return (
        docs.select(lang_norm.alias("lang_norm"))
        .groupBy("lang_norm")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang_norm")
    )


@query(
    "json_extract_cast",
    oracle="""
    SELECT event_type,
           round(avg(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 6) AS avg_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    description="F2/F5: JSON scalar extract + cast-with-null-fallback "
    "(reference: astype(float) + clean_dependents_input, LP.ipynb:680, "
    "app.py:42-48; Spark cast yields null on bad input like the app path)",
)
def json_extract_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # try_cast: null on malformed JSON values even under ANSI (Spark 4 default)
    k = F.get_json_object("props", "$.k").try_cast("double")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(F.round(F.avg("k"), 6).alias("avg_k"))
        .orderBy("event_type")
    )


@query(
    "label_encode",
    oracle="""
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_purchases,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    description="F3: dict-map label encode then aggregate "
    "(reference: Loan_Status map({'Y':1,'N':0}), LP.ipynb:814)",
)
def label_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    is_purchase = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    return (
        ev.select("user_id", is_purchase.alias("is_purchase"))
        .groupBy("user_id")
        .agg(
            F.sum("is_purchase").cast("long").alias("n_purchases"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Join shapes (§2.3 — J1 plus the how= variants the engine exposes)
# ---------------------------------------------------------------------------


@query(
    "left_join_histogram",
    oracle="""
    WITH per_cust AS (
        SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS n_orders
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
    )
    SELECT n_orders, CAST(count(*) AS BIGINT) AS n_customers
    FROM per_cust
    GROUP BY n_orders
    ORDER BY n_orders
    """,
    description="J1 variant: left outer join preserving zero-order customers, "
    "two-level aggregate (order-count histogram)",
)
def left_join_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers")).orderBy("n_orders")


@query(
    "semi_anti_join",
    oracle="""
    SELECT 'semi' AS side, c_custkey, c_acctbal FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    UNION ALL
    SELECT 'anti', c_custkey, c_acctbal FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    ORDER BY side, c_custkey
    """,
    description="J1 variants in one verified pass: left-semi (EXISTS — "
    "customers with >=1 order) and left-anti (NOT EXISTS — customers with "
    "no urgent order). Instead of two joins (2 scans of each table), ONE "
    "orders aggregation produces per-customer (exists, has_urgent) flags "
    "and ONE left join tags each customer row with its side(s) — halving "
    "the fact scans vs the naive union of a semi and an anti join",
)
def semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", (F.col("o_orderpriority") == "1-URGENT").alias("is_urgent")
    )
    flags = o.groupBy("o_custkey").agg(F.max("is_urgent").alias("has_urgent"))
    j = c.join(flags, c.c_custkey == flags.o_custkey, "left")
    side = F.explode(
        F.array(
            F.when(F.col("o_custkey").isNotNull(), F.lit("semi")),
            F.when(F.col("o_custkey").isNull() | ~F.col("has_urgent"), F.lit("anti")),
        )
    )
    return (
        j.select("c_custkey", "c_acctbal", side.alias("side"))
        .where(F.col("side").isNotNull())
        .select("side", "c_custkey", "c_acctbal")
        .orderBy("side", "c_custkey")
    )


@query(
    "multi_star_join",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    description="J1 at depth: 6-table star join with region filter "
    "(TPC-H Q5 shape) — dims broadcast, fact scans filtered",
)
def multi_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    o = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1999-01-01 00:00:00").cast("timestamp_ntz"))
    )
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
    )
    return (
        joined.groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


# ---------------------------------------------------------------------------
# Window functions / set ops / having (§2.5 — engine extensions, W1/U1)
# ---------------------------------------------------------------------------


@query(
    "window_rank",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM orders
    QUALIFY row_number() OVER (
        PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) = 1
    ORDER BY o_custkey
    """,
    description="W1 extension: top-1-per-group via row_number window "
    "(each customer's largest order)",
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("o_custkey")
    )


@query(
    "set_ops",
    oracle="""
    WITH purchasers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
    erroring AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error'),
    u AS (SELECT user_id FROM purchasers UNION SELECT user_id FROM erroring),
    b AS (SELECT user_id FROM purchasers INTERSECT SELECT user_id FROM erroring),
    onlyp AS (SELECT user_id FROM purchasers EXCEPT SELECT user_id FROM erroring)
    SELECT 'both' AS cohort, CAST(count(*) AS BIGINT) AS n FROM b
    UNION ALL
    SELECT 'either', CAST(count(*) AS BIGINT) FROM u
    UNION ALL
    SELECT 'purchase_only', CAST(count(*) AS BIGINT) FROM onlyp
    ORDER BY cohort
    """,
    description="U1: the set-operation family in one verified pass — "
    "UNION (distinct), INTERSECT, EXCEPT over user cohorts. Each set op "
    "is a partial-agg'd distinct; counts are tiny post-agg scalars",
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    purchasers = ev.where(F.col("event_type") == "purchase").select("user_id").distinct()
    erroring = ev.where(F.col("event_type") == "error").select("user_id").distinct()

    def tagged_count(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n")).select(F.lit(tag).alias("cohort"), "n")

    both_u = tagged_count(purchasers.intersect(erroring), "both")
    either = tagged_count(purchasers.unionByName(erroring).distinct(), "either")
    only_p = tagged_count(purchasers.subtract(erroring), "purchase_only")
    return both_u.unionByName(either).unionByName(only_p).orderBy("cohort")


@query(
    "date_functions",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER)      AS yr,
           CAST(month(o_orderdate) AS INTEGER)     AS mo,
           CAST(dayofweek(o_orderdate) AS INTEGER) AS dow_sun0,
           CAST(count(*) AS BIGINT)                AS n,
           round(sum(o_totalprice), 4)             AS total
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
    description="Date/time scalar functions (year/month/day-of-week "
    "extraction) feeding a calendar rollup. NB dialect alignment: Spark "
    "dayofweek is 1=Sunday, DuckDB dayofweek is 0=Sunday",
)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.where(F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        .groupBy(
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
            (F.dayofweek("o_orderdate") - 1).alias("dow_sun0"),
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 4).alias("total"))
        .orderBy("yr", "mo", "dow_sun0")
    )


@query(
    "string_functions",
    oracle="""
    SELECT p_partkey,
           upper(p_brand)                                   AS brand_upper,
           lpad(CAST(p_partkey AS VARCHAR), 10, '0')        AS padded_key,
           concat_ws('|', p_brand, p_type)                  AS brand_type,
           regexp_extract(p_brand, '([0-9]+)$', 1)          AS brand_num,
           regexp_extract(p_name, '([a-z]+)$', 1)           AS name_last_word,
           CAST(length(p_name) AS INTEGER)                  AS name_len,
           substr(p_name, 1, 5)                             AS name_prefix,
           replace(p_name, ' ', '_')                        AS name_snake
    FROM part
    ORDER BY p_partkey
    """,
    description="String scalar-function suite: case, padding, "
    "concat_ws, regexp_extract, length, substring, replace — all "
    "codegen'd, dialect-aligned with the oracle",
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    # patterns chosen to actually match the data (p_brand 'Brand#17',
    # p_name 'small ring') so regex/replace divergences can't hide behind
    # trivially-empty outputs
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("padded_key"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.regexp_extract("p_brand", "([0-9]+)$", 1).alias("brand_num"),
        F.regexp_extract("p_name", "([a-z]+)$", 1).alias("name_last_word"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
    ).orderBy("p_partkey")


@query(
    "group_having",
    oracle="""
    SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) >= 15
    ORDER BY n_orders DESC, o_custkey
    """,
    description="A5 extension: grouped count with HAVING post-filter",
)
def group_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 15)
        .orderBy(F.desc("n_orders"), F.asc("o_custkey"))
    )


# ---------------------------------------------------------------------------
# Event-time batch analytics (events table; batch twins of streaming ops)
# ---------------------------------------------------------------------------


@query(
    "events_hourly",
    tier="local",  # the same hourly agg is driver-verified through the streaming engine (streaming_hourly)
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4)     AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    description="Tumbling-window aggregate (batch twin of the streaming "
    "windowed agg in streaming/events.py)",
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hour = F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss")
    return (
        ev.groupBy(hour.alias("hour"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .orderBy("hour", "event_type")
    )


@query(
    "sessionization",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                    OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, epoch_us(ts))
    ),
    sessions AS (
        SELECT user_id, ts,
               CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM flagged
    )
    SELECT user_id, session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round((max(epoch_us(ts)) - min(epoch_us(ts))) / 1000000.0, 3) AS duration_sec
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
    description="Gap-based sessionization (30-min inactivity) via lag + "
    "running sum — batch twin of streaming session_window",
)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    # ts is TIMESTAMP_NTZ; session tz is pinned UTC so the cast is the
    # identity wall-clock mapping and unix_micros matches duckdb epoch_us.
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = W.partitionBy("user_id").orderBy("ts")
    flagged = ev.withColumn(
        "is_new",
        F.when(
            (us - F.lag(us).over(w) > 1_800_000_000) | F.lag(F.col("ts")).over(w).isNull(),
            1,
        ).otherwise(0),
    )
    wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    sessions = flagged.withColumn("session_id", F.sum("is_new").over(wrun).cast("long"))
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round((F.max(us) - F.min(us)) / 1_000_000.0, 3).alias("duration_sec"),
        )
        .orderBy("user_id", "session_id")
    )
