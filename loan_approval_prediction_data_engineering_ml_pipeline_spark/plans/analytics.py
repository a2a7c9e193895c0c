"""Advanced analytics named queries: pivot, rollup/cube, percentiles,
correlation, running windows, as-of join — the OLAP surface a user of a
full analytics engine expects beyond the reference's own operators
(SURVEY.md §2.4-2.5 'engine extensions'), each with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import Window as W

from ..sources.loaders import load_table
from ..sources.memo import memo
from .registry import query

ORDER_STATUSES = ["F", "O", "P"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@query(
    "pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
           CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    description="Pivot: order counts by priority x status (explicit value "
    "list keeps the pivot a single pass — no distinct-collect job)",
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    out = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ORDER_STATUSES)
        .agg(F.count(F.lit(1)))
        .orderBy("o_orderpriority")
    )
    return out.select(
        "o_orderpriority",
        *[F.coalesce(F.col(s), F.lit(0)).alias(s) for s in ORDER_STATUSES],
    )


@query(
    "rollup_revenue",
    oracle="""
    SELECT r_name, n_name,
           round(sum(c_acctbal), 4) AS total_acctbal,
           CAST(count(*) AS BIGINT) AS n
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
    """,
    description="ROLLUP hierarchy totals (region -> nation -> grand total) "
    "in one aggregation pass",
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.round(F.sum("c_acctbal"), 4).alias("total_acctbal"), F.count(F.lit(1)).alias("n"))
        .orderBy(F.asc_nulls_first("r_name"), F.asc_nulls_first("n_name"))
    )


@query(
    "distinct_users_by_type",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT)                AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    description="Exact distinct-count per group; the approximate twin "
    "(approx_count_distinct / HLL) is asserted within error bounds in "
    "tests (not oracle-comparable by construction)",
)
def distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


@query(
    "zscore_outliers",
    oracle="""
    WITH stats AS (
        SELECT event_type,
               avg(value) AS mu,
               stddev_samp(value) AS sigma
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           round(e.value, 4) AS value,
           round((e.value - s.mu) / s.sigma, 4) AS zscore
    FROM events e JOIN stats s ON e.event_type = s.event_type
    WHERE abs((e.value - s.mu) / s.sigma) >= 3.0
    ORDER BY e.event_id
    """,
    description="Z-score outlier detection per event_type: grouped "
    "mu/sigma (tiny, broadcast back) then a map-side score+filter — "
    "two passes total, no window over raw rows",
)
def zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .where(F.abs(z) >= 3.0)
        .select(
            "event_id",
            "event_type",
            F.round("value", 4).alias("value"),
            F.round(z, 4).alias("zscore"),
        )
        .orderBy("event_id")
    )


@query(
    "top_tokens_per_lang",
    # demoted to local in r15 (driver cap is 50): lang_token_profile and
    # tfidf_top_terms carry the per-language token surface in the driver
    # set; this row stays parity-gate-verified
    tier="local",
    oracle="""
    WITH tok AS (
        SELECT lang, unnest(string_split(trim(text), ' ')) AS token
        FROM documents
    ),
    counts AS (
        SELECT lang, token, CAST(count(*) AS BIGINT) AS n
        FROM tok GROUP BY lang, token
    )
    SELECT lang, token, n
    FROM counts
    QUALIFY row_number() OVER (PARTITION BY lang ORDER BY n DESC, token) <= 5
    ORDER BY lang, n DESC, token
    """,
    description="Top-k frequent tokens per language: explode -> grouped "
    "count -> per-group window rank. The vocabulary aggregate shuffles "
    "(lang, token) pairs, already reduced map-side",
)
def top_tokens_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import text as X

    docs = _t(spark, sf_dir, "documents")
    counts = (
        docs.select("lang", F.explode(X.tokens("text")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = W.partitionBy("lang").orderBy(F.desc("n"), F.asc("token"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .drop("rk")
        .orderBy("lang", F.desc("n"), "token")
    )


@query(
    "window_suite",
    oracle="""
    SELECT o_custkey,
           o_orderkey,
           round(avg(o_totalprice) OVER w_frame, 4) AS moving_avg_3,
           round(o_totalprice
                 - coalesce(lag(o_totalprice) OVER w, o_totalprice), 4)
               AS delta_prev,
           CAST(ntile(4) OVER w AS INT) AS spend_quartile,
           round(percent_rank() OVER w_price, 6) AS price_pct_rank,
           round(sum(o_totalprice) OVER w_run, 4) AS running_spend
    FROM orders
    WHERE o_custkey % 10 = 0
    WINDOW
        w       AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        w_frame AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
        w_run   AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                    ROWS UNBOUNDED PRECEDING),
        w_price AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    ORDER BY o_custkey, o_orderkey
    """,
    description="Window-function suite per customer: 3-row moving average, "
    "lag delta, ntile quartile, percent_rank, running cumulative spend "
    "(unbounded-preceding frame). One shuffle on o_custkey; every sort "
    "order shares that partitioning, so Spark runs the Window operators "
    "over a single exchange — no per-function shuffles",
)
def window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").where(F.col("o_custkey") % 10 == 0)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_frame = w.rowsBetween(-2, W.currentRow)
    w_run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    w_price = W.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    price = F.col("o_totalprice")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.round(F.avg(price).over(w_frame), 4).alias("moving_avg_3"),
            F.round(price - F.coalesce(F.lag(price).over(w), price), 4).alias(
                "delta_prev"
            ),
            F.ntile(4).over(w).alias("spend_quartile"),
            F.round(F.percent_rank().over(w_price), 6).alias("price_pct_rank"),
            F.round(F.sum(price).over(w_run), 4).alias("running_spend"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@query(
    "grouping_sets_counts",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(grouping(o_orderstatus) AS INT) AS g_status,
           CAST(grouping(o_orderpriority) AS INT) AS g_priority
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                            (o_orderstatus, o_orderpriority), ())
    ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority
    """,
    description="GROUPING SETS over the full 4-set lattice of (status, "
    "priority) — i.e. CUBE — with grouping() markers: every aggregation "
    "level in one shuffle instead of a union of four scans. The general "
    "form behind rollup/cube: Catalyst plans .cube() as this same "
    "grouping-sets Expand + Aggregate, and the .rollup() API twin is "
    "driver-checked as rollup_revenue",
)
def grouping_sets_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_gs_orders")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_priority
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority), ())
        ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority
    """)


@query(
    "deterministic_sample",
    tier="local",  # sampling utility; md5-keyed determinism is also exercised by dedup/fingerprint driver queries
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(o_totalprice), 4) AS avg_price
    FROM orders
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 32, 1) IN ('0', '1')
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    description="Deterministic ~12.5% sample: keep rows whose key-md5 ends "
    "in 0/1 — a map-side filter that is reproducible across engines, "
    "runs, and partitionings (unlike rand()-based sampling), composable "
    "with pushdown, and stable under data reshuffles at any scale",
)
def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    tail = F.substring(F.md5(F.col("o_orderkey").cast("string").cast("binary")), 32, 1)
    return (
        o.where(tail.isin("0", "1"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "price_histogram",
    oracle="""
    WITH b AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders)
    SELECT CAST(least(floor((o_totalprice - mn) * 10 / (mx - mn)), 9) AS INT) + 1
               AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(min(o_totalprice), 4) AS lo,
           round(max(o_totalprice), 4) AS hi
    FROM orders, b
    GROUP BY 1 ORDER BY 1
    """,
    description="Equi-width histogram: one tiny min/max agg broadcast back "
    "(scalar cross join), then a map-side bucket expression + grouped "
    "count — two scans, no sort, no single-partition window; the "
    "scale-safe histogram shape (vs ntile's global sort)",
)
def price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx")
    )
    price, mn, mx = F.col("o_totalprice"), F.col("mn"), F.col("mx")
    bucket = (
        F.least(F.floor((price - mn) * 10 / (mx - mn)), F.lit(9)).cast("int") + 1
    )
    return (
        o.crossJoin(F.broadcast(bounds))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min(price), 4).alias("lo"),
            F.round(F.max(price), 4).alias("hi"),
        )
        .orderBy("bucket")
    )


@query(
    "range_join_bucketed",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    er AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error')
    SELECT p.event_id  AS purchase_id,
           er.event_id AS error_id,
           round((epoch_us(p.ts) - epoch_us(er.ts)) / 1000000.0, 3) AS gap_sec
    FROM p JOIN er
      ON p.user_id = er.user_id
     AND abs(epoch_us(p.ts) - epoch_us(er.ts)) <= 300000000
    ORDER BY purchase_id, error_id
    """,
    description="Interval/range join (purchases x errors within +-5 min, "
    "same user) via DENSITY-ADAPTIVE time-bucketing: one side keeps its "
    "bucket, the other explodes to every bucket its window can reach, "
    "equi-join then exact filter — O(matches) instead of the O(n^2) theta "
    "join the oracle runs. Bucket width shrinks below the gap when a cheap "
    "(user, bucket) histogram shows candidate pairs would dominate the "
    "explode cost (the sf1 pass measured 16x wall at 10x data with the "
    "fixed gap-wide bucket; see SCALE.md)",
)
def range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    gap_us = 300_000_000
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", us.alias("pts")
    )
    er = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.col("user_id").alias("e_user"), us.alias("ets")
    )
    # the density estimate is a pure function of the events fixture, so
    # its planning aggregate runs once per fixture version
    k = memo(
        spark, sf_dir, ["events.parquet"], "range_k",
        lambda: range_join_subbuckets(p, er, "user_id", "e_user", "pts", "ets", gap_us),
    )
    return adaptive_range_join(
        p, er, "user_id", "e_user", "pts", "ets", gap_us, k=k
    ).select(
        "purchase_id",
        "error_id",
        F.round((F.col("pts") - F.col("ets")) / 1_000_000.0, 3).alias("gap_sec"),
    ).orderBy("purchase_id", "error_id")


def range_join_subbuckets(
    left: DataFrame,
    right: DataFrame,
    lkey: str,
    rkey: str,
    lts: str,
    rts: str,
    gap: int,
    target_ratio: float = 4.0,
    max_k: int = 64,
) -> int:
    """Pick the sub-bucket count k for :func:`adaptive_range_join`.

    With bucket width ``w = gap/k`` the probe side replicates to
    ``2k+1`` buckets (cost ~ ``(2k+1)·|right|``) while per-cell candidate
    pairs shrink ~linearly in ``w`` (cost ~ ``candidates(gap)/k``). The
    estimate comes from one cheap two-column aggregate — the (key,
    gap-wide bucket) histogram of both sides, the same shuffle key the
    join itself uses — so the planning scan touches only ints, never the
    payload. k balances the two costs: k ≈ sqrt(candidates / (3·|right|))
    capped at ``max_k`` (beyond that the explode dominates any saving).
    ``target_ratio`` is the candidates-per-probe-row level below which
    the plain 3-adjacent-bucket plan is already fine (k=1: identical to
    the non-adaptive plan — zero overhead at low density).
    """
    lh = left.groupBy(
        F.col(lkey).alias("k"), F.expr(f"{lts} DIV {gap}").alias("b")
    ).agg(F.count(F.lit(1)).alias("lc"))
    rh = right.groupBy(
        F.col(rkey).alias("k"), F.expr(f"{rts} DIV {gap}").alias("b")
    ).agg(F.count(F.lit(1)).alias("rc"))
    # full-outer so ONE job yields both the same-cell pair count and
    # |right| (sum of rc over all cells) — each input scanned exactly once
    stats = (
        lh.join(rh, ["k", "b"], "full_outer")
        .agg(
            F.sum(F.col("lc") * F.col("rc")).alias("cand"),
            F.sum("rc").alias("n_right"),
        )
        .first()
    )
    # a right row lands in ~3 gap-wide cells; candidates counts same-cell
    # pairs only, so scale by 3 for the adjacent-bucket probes
    cand = 3 * (stats["cand"] or 0)
    n_right = stats["n_right"] or 0
    if n_right == 0 or cand <= target_ratio * 3 * n_right:
        return 1
    import math

    return max(1, min(max_k, round(math.sqrt(cand / (3.0 * n_right)))))


def adaptive_range_join(
    left: DataFrame,
    right: DataFrame,
    lkey: str,
    rkey: str,
    lts: str,
    rts: str,
    gap: int,
    k: int | None = None,
) -> DataFrame:
    """Equi-key interval join: pairs with ``|lts - rts| <= gap`` sharing a
    key, via bucketing with width ``gap/k``. The left side keeps its one
    bucket; the right side explodes to every bucket its ±gap window can
    reach (``sequence((rts-gap) DIV w, (rts+gap) DIV w)`` — distinct
    values, and any true match's left bucket lies inside that range, so
    each matching pair meets in EXACTLY one bucket: no dedupe pass).
    Correct for any k ≥ 1; k is chosen from measured density when omitted.
    """
    if k is None:
        k = range_join_subbuckets(left, right, lkey, rkey, lts, rts, gap)
    w = max(1, gap // k)
    lb = left.withColumn("__bucket", F.expr(f"{lts} DIV {w}"))
    rb = right.withColumn(
        "__bucket",
        F.explode(F.sequence(F.expr(f"({rts} - {gap}) DIV {w}"), F.expr(f"({rts} + {gap}) DIV {w}"))),
    )
    joined = lb.join(rb, (lb[lkey] == rb[rkey]) & (lb["__bucket"] == rb["__bucket"]))
    return joined.where(F.abs(F.col(lts) - F.col(rts)) <= gap).drop("__bucket")


@query(
    "correlated_subquery",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice
    FROM orders o
    WHERE o_totalprice > 1.5 * (SELECT avg(i.o_totalprice)
                                FROM orders i WHERE i.o_custkey = o.o_custkey)
    ORDER BY o_orderkey
    """,
    description="Correlated scalar subquery (orders 1.5x above their "
    "customer's average) — expressed as the decorrelated aggregate-join "
    "Catalyst would rewrite it to; one shuffle on the correlation key",
)
def correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    avgs = o.groupBy("o_custkey").agg(F.avg("o_totalprice").alias("__avg"))
    return (
        o.join(avgs, "o_custkey")
        .where(F.col("o_totalprice") > 1.5 * F.col("__avg"))
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 4).alias("o_totalprice"))
        .orderBy("o_orderkey")
    )


@query(
    "argmax_per_group",
    oracle="""
    SELECT p.p_brand, p.p_partkey, p.p_retailprice
    FROM part p
    JOIN (SELECT p_brand AS mx_brand, max(p_retailprice) AS mx
          FROM part GROUP BY p_brand) m
      ON p.p_brand = m.mx_brand AND p.p_retailprice = m.mx
    ORDER BY p.p_brand, p.p_partkey
    """,
    description="Argmax-per-group via aggregate self-join (TPC-H Q2 "
    "shape); ties surface as multiple rows identically in both engines",
)
def argmax_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").select("p_brand", "p_partkey", "p_retailprice").alias("p")
    mx = (
        p.groupBy("p_brand")
        .agg(F.max("p_retailprice").alias("mx"))
        .withColumnRenamed("p_brand", "mx_brand")
        .alias("m")
    )
    return (
        p.join(
            F.broadcast(mx),
            (F.col("p.p_brand") == F.col("m.mx_brand"))
            & (F.col("p.p_retailprice") == F.col("m.mx")),
        )
        .select("p.p_brand", "p.p_partkey", "p.p_retailprice")
        .orderBy("p_brand", "p_partkey")
    )


@query(
    "asof_join",
    oracle="""
    WITH tagged AS (
        SELECT user_id, event_id, event_type, ts,
               last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS last_click_us
        FROM events
    )
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
           CAST(round(CAST(epoch_us(ts) - last_click_us AS DECIMAL(24, 0)) * 0.000001, 3)
                AS DOUBLE) AS sec_since_click
    FROM tagged
    WHERE event_type = 'purchase' AND last_click_us IS NOT NULL
    ORDER BY event_id
    """,
    description="As-of join (each purchase matched to the latest prior "
    "click by the same user) as a single-pass last-ignorenulls window — "
    "no pairwise range join, no merge_asof UDF; scales as one sort per "
    "user partition. The gap is rounded HALF_UP to milliseconds from its "
    "exact microsecond decimal, so both engines agree at exact halves",
)
def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    tagged = ev.withColumn(
        "last_click_us",
        F.last(F.when(F.col("event_type") == "click", us), ignorenulls=True).over(w),
    )
    return (
        tagged.where((F.col("event_type") == "purchase") & F.col("last_click_us").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("purchase_ts"),
            # exact decimal, not a double: rounding gap / 1e6 as a double
            # splits exact half milliseconds differently across engines
            F.round((us - F.col("last_click_us")).cast("decimal(24,0)") / 1_000_000, 3)
            .cast("double")
            .alias("sec_since_click"),
        )
        .orderBy("event_id")
    )


@query(
    "data_quality_audit",
    oracle="""
    WITH flags AS (
        SELECT CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END AS null_orderkey,
               CASE WHEN l_quantity IS NULL OR l_quantity <= 0 THEN 1 ELSE 0 END AS nonpositive_quantity,
               CASE WHEN l_extendedprice IS NULL OR l_extendedprice <= 0 THEN 1 ELSE 0 END AS nonpositive_price,
               CASE WHEN l_discount IS NULL OR l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END AS discount_out_of_range,
               CASE WHEN l_tax IS NULL OR l_tax < 0 THEN 1 ELSE 0 END AS negative_tax,
               CASE WHEN l_returnflag IS NULL OR l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END AS bad_returnflag,
               CASE WHEN l_shipdate IS NULL
                      OR l_shipdate < DATE '1992-01-01'
                      OR l_shipdate > DATE '1998-12-31' THEN 1 ELSE 0 END AS shipdate_out_of_range
        FROM lineitem
    ), wide AS (
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(null_orderkey) AS BIGINT) AS null_orderkey,
               CAST(sum(nonpositive_quantity) AS BIGINT) AS nonpositive_quantity,
               CAST(sum(nonpositive_price) AS BIGINT) AS nonpositive_price,
               CAST(sum(discount_out_of_range) AS BIGINT) AS discount_out_of_range,
               CAST(sum(negative_tax) AS BIGINT) AS negative_tax,
               CAST(sum(bad_returnflag) AS BIGINT) AS bad_returnflag,
               CAST(sum(shipdate_out_of_range) AS BIGINT) AS shipdate_out_of_range
        FROM flags
    )
    SELECT rule, n_violations, n_rows,
           round(n_violations * 1.0 / n_rows, 6) AS violation_rate
    FROM (
        SELECT 'null_orderkey' AS rule, null_orderkey AS n_violations, n_rows FROM wide
        UNION ALL SELECT 'nonpositive_quantity', nonpositive_quantity, n_rows FROM wide
        UNION ALL SELECT 'nonpositive_price', nonpositive_price, n_rows FROM wide
        UNION ALL SELECT 'discount_out_of_range', discount_out_of_range, n_rows FROM wide
        UNION ALL SELECT 'negative_tax', negative_tax, n_rows FROM wide
        UNION ALL SELECT 'bad_returnflag', bad_returnflag, n_rows FROM wide
        UNION ALL SELECT 'shipdate_out_of_range', shipdate_out_of_range, n_rows FROM wide
    )
    ORDER BY rule
    """,
    description="Data-quality gate: declarative rule set (null keys, "
    "nonpositive amounts, out-of-range discount/tax/dates, bad enums) "
    "evaluated as conditional sums in ONE scan + aggregate, then "
    "unpivoted to a (rule, n_violations, rate) report — the expectation-"
    "validation step an ingest pipeline runs before promoting a batch. "
    "Adding a rule adds a column to the same single pass, not a new job",
    tier="local",
)
def data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    rules = {
        "null_orderkey": F.col("l_orderkey").isNull(),
        "nonpositive_quantity": F.col("l_quantity").isNull() | (F.col("l_quantity") <= 0),
        "nonpositive_price": F.col("l_extendedprice").isNull() | (F.col("l_extendedprice") <= 0),
        "discount_out_of_range": F.col("l_discount").isNull()
        | (F.col("l_discount") < 0)
        | (F.col("l_discount") > 1),
        "negative_tax": F.col("l_tax").isNull() | (F.col("l_tax") < 0),
        "bad_returnflag": F.col("l_returnflag").isNull()
        | ~F.col("l_returnflag").isin("A", "N", "R"),
        "shipdate_out_of_range": F.col("l_shipdate").isNull()
        | (F.col("l_shipdate") < F.lit("1992-01-01").cast("date"))
        | (F.col("l_shipdate") > F.lit("1998-12-31").cast("date")),
    }
    wide = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.sum(F.when(cond, 1).otherwise(0)).alias(name)
            for name, cond in rules.items()
        ],
    )
    stacked = wide.select(
        F.expr(
            "stack({n}, {args}) as (rule, n_violations)".format(
                n=len(rules),
                args=", ".join(f"'{r}', {r}" for r in rules),
            )
        ),
        "n_rows",
    )
    return stacked.select(
        "rule",
        "n_violations",
        "n_rows",
        F.round(F.col("n_violations") / F.col("n_rows"), 6).alias("violation_rate"),
    ).orderBy("rule")


@query(
    "sketch_distinct_rollup",
    # No DuckDB oracle: the estimate is Apache DataSketches HLL — exact
    # correctness is asserted in tests (merge-associativity + error
    # bound vs exact countDistinct), not hash-compare.
    description="Re-aggregatable distinct-count sketches: per-event-type "
    "HLL sketches of user_id, with the corpus-wide distinct derived by "
    "MERGING the per-group sketches (hll_union_agg), never re-scanning "
    "the fact table. This is the 100 TB cardinality pattern: store "
    "per-partition/per-day sketch bytes (KBs), answer any rollup by "
    "sketch union. Estimates are deterministic for fixed data; accuracy "
    "vs exact is bounded in test_sketch_rollup_error_bound",
    tier="local",
)
def sketch_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count(F.lit(1)).alias("n_events"),
    )
    groups = per_type.select(
        F.col("event_type").alias("scope"),
        F.hll_sketch_estimate("sk").alias("est_distinct_users"),
        "n_events",
    )
    overall = per_type.agg(
        F.lit("ALL").alias("scope"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_distinct_users"),
        F.sum("n_events").alias("n_events"),
    )
    return groups.unionByName(overall).orderBy("scope")


@query(
    "winsorize_stats",
    oracle="""
    WITH bounds AS (
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.05) AS lo,
               quantile_cont(l_extendedprice, 0.95) AS hi
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN l_extendedprice < lo OR l_extendedprice > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
           round(avg(l_extendedprice), 4) AS mean_raw,
           round(avg(greatest(lo, least(hi, l_extendedprice))), 4) AS mean_winsorized
    FROM lineitem l JOIN bounds b ON l.l_returnflag = b.l_returnflag
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
    description="Winsorization (outlier clipping at p5/p95 per group) — "
    "the robust-feature prep an ML pipeline applies before scaling. "
    "Per-group exact quantile bounds (3-row table) broadcast back onto "
    "the fact scan; clip is a codegen greatest/least, and the report "
    "compares raw vs winsorized means. Two fact scans (bounds + apply), "
    "both pruned to 2 columns",
    tier="local",
)
def winsorize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    bounds = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.05)).alias("lo"),
        F.percentile("l_extendedprice", F.lit(0.95)).alias("hi"),
    )
    price = F.col("l_extendedprice")
    clipped = F.greatest(F.col("lo"), F.least(F.col("hi"), price))
    return (
        li.join(F.broadcast(bounds), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when((price < F.col("lo")) | (price > F.col("hi")), 1).otherwise(0)).alias(
                "n_clipped"
            ),
            F.round(F.avg(price), 4).alias("mean_raw"),
            F.round(F.avg(clipped), 4).alias("mean_winsorized"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "chi_square_lang_source",
    oracle="""
    WITH cells AS (
        SELECT lang, source, count(*) AS o FROM documents GROUP BY lang, source
    ), rows_t AS (
        SELECT lang, sum(o) AS rt FROM cells GROUP BY lang
    ), cols_t AS (
        SELECT source, sum(o) AS ct FROM cells GROUP BY source
    ), n AS (SELECT sum(o) AS total FROM cells)
    SELECT round(sum((o - rt * ct / total) * (o - rt * ct / total) / (rt * ct / total)), 6) AS chi2,
           CAST((count(DISTINCT c.lang) - 1) * (count(DISTINCT c.source) - 1) AS BIGINT) AS dof
    FROM cells c JOIN rows_t USING (lang) JOIN cols_t USING (source), n
    """,
    description="Chi-square independence test on the lang x source "
    "contingency table — does language mix vary by source? (the "
    "statistical twin of source_entropy). One fact aggregation to cell "
    "counts; row/col totals and expected counts are joins between "
    "kilobyte aggregates. Note: zero-count cells contribute nothing "
    "here (observed-cells formulation, matching the oracle exactly)",
    tier="local",
)
def chi_square_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    rows_t = cells.groupBy("lang").agg(F.sum("o").alias("rt"))
    cols_t = cells.groupBy("source").agg(F.sum("o").alias("ct"))
    total = cells.agg(F.sum("o").alias("total"))
    e = F.col("rt") * F.col("ct") / F.col("total")
    return (
        cells.join(F.broadcast(rows_t), "lang")
        .join(F.broadcast(cols_t), "source")
        .crossJoin(F.broadcast(total))
        .agg(
            F.round(F.sum((F.col("o") - e) * (F.col("o") - e) / e), 6).alias("chi2"),
            (
                (F.count_distinct("lang") - 1) * (F.count_distinct("source") - 1)
            ).alias("dof"),
        )
    )


@query(
    "quantile_binning",
    oracle="""
    WITH binned AS (
        SELECT l_extendedprice,
               ntile(4) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bin
        FROM lineitem
    )
    SELECT bin, CAST(count(*) AS BIGINT) AS n,
           round(min(l_extendedprice), 4) AS lo,
           round(max(l_extendedprice), 4) AS hi,
           round(avg(l_extendedprice), 6) AS mean
    FROM binned GROUP BY bin ORDER BY bin
    """,
    description="Equal-frequency (quartile) binning via ntile over a "
    "deterministic total order — the QuantileDiscretizer twin with "
    "exact bin edges. CAVEAT: a global (unpartitioned) window funnels "
    "every row through ONE task — fine at fixture scale and exactly "
    "oracle-matchable, but the 100 TB path is approx-quantile cut "
    "points computed once and applied map-side as a codegen CASE "
    "(same output surface; swap asserted nowhere because the exact "
    "and approx bin edges legitimately differ)",
    tier="local",
)
def quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    binned = li.select(
        "l_extendedprice",
        F.ntile(4)
        .over(W.orderBy("l_extendedprice", "l_orderkey", "l_linenumber"))
        .alias("bin"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("l_extendedprice"), 4).alias("lo"),
            F.round(F.max("l_extendedprice"), 4).alias("hi"),
            F.round(F.avg("l_extendedprice"), 6).alias("mean"),
        )
        .orderBy("bin")
    )


@query(
    "user_type_sets",
    oracle="""
    WITH sets AS (
        SELECT user_id,
               array_to_string(list_sort(list_distinct(list(event_type))), ',') AS type_set
        FROM events GROUP BY user_id
    )
    SELECT type_set, CAST(count(*) AS BIGINT) AS n_users
    FROM sets GROUP BY type_set
    ORDER BY n_users DESC, type_set
    """,
    description="Array-function surface: per-user sorted distinct "
    "event-type set rendered canonically, then set-frequency (which "
    "behavioral footprints exist and how common is each). collect_set "
    "-> array_sort -> array_join keeps the value deterministic for "
    "hashing; two aggregations, both on already-small keys",
    tier="local",
)
def user_type_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    sets = ev.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias("type_set")
    )
    return (
        sets.groupBy("type_set")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), "type_set")
    )


@query(
    "monthly_revenue_growth",
    oracle="""
    WITH monthly AS (
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               round(sum(o_totalprice), 4) AS revenue
        FROM orders GROUP BY 1
    )
    SELECT month, revenue,
           round(revenue - lag(revenue) OVER (ORDER BY month), 4) AS mom_delta,
           round((revenue - lag(revenue) OVER (ORDER BY month))
                 / lag(revenue) OVER (ORDER BY month), 6) AS mom_growth
    FROM monthly
    ORDER BY month
    """,
    description="Month-over-month revenue growth: monthly aggregate then "
    "lag window — the standard reporting time series. The window runs "
    "over the TINY aggregated table (one row per month), so the global "
    "ordering is free; never window the raw fact table for period-level "
    "reports",
    tier="local",
)
def monthly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month")
    ).agg(F.round(F.sum("o_totalprice"), 4).alias("revenue"))
    w = W.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month",
        "revenue",
        F.round(F.col("revenue") - prev, 4).alias("mom_delta"),
        F.round((F.col("revenue") - prev) / prev, 6).alias("mom_growth"),
    ).orderBy("month")


@query(
    "daily_value_percentiles",
    oracle="""
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n,
           round(quantile_cont(value, 0.50), 6) AS p50,
           round(quantile_cont(value, 0.95), 6) AS p95,
           round(max(value), 6) AS mx
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
    description="Daily latency-band style report: exact p50/p95/max of "
    "event value per day — the SLO dashboard aggregate. One shuffle on "
    "~30 day keys; the percentile buffers hold one day's values each "
    "(bounded by day volume, not corpus size). At 100 TB: "
    "approx_percentile per day, or pre-aggregated t-digest sketches "
    "merged like the HLL rollup",
    tier="local",
)
def daily_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
            F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95"),
            F.round(F.max("value"), 6).alias("mx"),
        )
        .orderBy("day")
    )


@query(
    "zipf_slope",
    oracle="""
    WITH freqs AS (
        SELECT tok, count(*) AS f
        FROM (SELECT unnest(string_split(trim(text), ' ')) AS tok FROM documents)
        GROUP BY tok
    ), ranked AS (
        SELECT f, row_number() OVER (ORDER BY f DESC, tok) AS r FROM freqs
    )
    SELECT CAST(count(*) AS BIGINT) AS vocab,
           round(regr_slope(ln(f), ln(r)), 6) AS zipf_slope,
           round(regr_r2(ln(f), ln(r)), 6) AS r2
    FROM ranked
    """,
    description="Zipf's-law fit over the corpus vocabulary: token "
    "frequencies ranked, then OLS slope of ln(freq) on ln(rank) — "
    "natural text sits near -1; synthetic or templated corpora deviate, "
    "making this a cheap distribution-shift diagnostic for training "
    "data. Token counts shuffle once; the ranked regression runs over "
    "the (vocab-sized) frequency table, and regr_slope/regr_r2 are "
    "single-pass moment aggregates",
    tier="local",
)
def zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import text as X

    docs = load_table(spark, sf_dir, "documents")
    freqs = (
        docs.select(F.explode(X.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    ranked = freqs.withColumn(
        "r", F.row_number().over(W.orderBy(F.desc("f"), "tok"))
    )
    lf, lr = F.log("f"), F.log("r")
    return ranked.agg(
        F.count(F.lit(1)).alias("vocab"),
        F.round(F.regr_slope(lf, lr), 6).alias("zipf_slope"),
        F.round(F.regr_r2(lf, lr), 6).alias("r2"),
    )


CMS_DEPTH, CMS_WIDTH = 4, 1024


def _cms_cells(col: "F.Column") -> "F.Column":
    """The CMS cell coordinates of a value: depth rows x width columns,
    hash_i = xxhash64(seed=i, value) mod width. Shared by build and
    probe so they cannot drift."""
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("d"),
                F.pmod(F.xxhash64(F.lit(i), col), F.lit(CMS_WIDTH)).alias("w"),
            )
            for i in range(CMS_DEPTH)
        ]
    )


@query(
    "cms_user_counts",
    tier="local",
    oracle=None,  # sketch-by-construction; error BOUNDED vs the exact twin in tests
    description="Count-min-sketch frequency estimates (completes the "
    "sketch family: HLL distinct, KLL percentiles, CMS counts), built "
    "as DataFrame ops: one explode to (depth, hash-cell) coordinates, "
    "one partial-agg'd groupBy for the sparse cell table (cell merge is "
    "a commutative sum — partition/retry order cannot change it; a "
    "missing cell is 0, so the sparse table estimates identically to "
    "the dense array), then min-over-cells for the probed keys. "
    "Never underestimates; overestimate bounded ~N/width per cell, "
    "asserted vs the exact DuckDB twin in the parity gate. Probes the "
    "20 smallest user ids; at 100 TB the cell table is depth x width "
    "rows regardless of corpus size",
)
def cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id")
    cells = (
        ev.select(F.explode(_cms_cells(F.col("user_id"))).alias("c"))
        .groupBy(F.col("c.d").alias("d"), F.col("c.w").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    keys = ev.distinct().orderBy("user_id").limit(20)
    probed = keys.select("user_id", F.explode(_cms_cells(F.col("user_id"))).alias("c"))
    return (
        probed.join(cells, (probed["c.d"] == cells["d"]) & (probed["c.w"] == cells["w"]))
        .groupBy("user_id")
        .agg(F.min("n").alias("est_count"))
        .orderBy("user_id")
    )
