"""Runs every registry query on Spark and its oracle SQL on DuckDB and
compares results the way the driver does — the local pre-flight for
CORRECTNESS_r{N}.json. Defaults to sf0.01 — the driver's exact scale
(VERDICT r2 #3); set PARITY_SF_DIR=/root/testdata/sf0.001 for a quick
pass, or /root/testdata/sf0.1 for the per-round scale check.
"""

from __future__ import annotations

import os

import pytest

from loan_approval_prediction_data_engineering_ml_pipeline_spark.plans.registry import QUERIES

from .oracle_utils import assert_matches, duck_path, duckdb_run

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")

ORACLE_QUERIES = [n for n, s in QUERIES.items() if s.oracle is not None]
# approximate-by-construction queries: no hash oracle, but their error is
# BOUNDED against an exact DuckDB twin below (VERDICT r3 #2)
BOUND_CHECKED_QUERIES = ["grouped_stats_approx", "sketch_distinct_rollup", "cms_user_counts"]
ROWS_ONLY_QUERIES = [
    n
    for n, s in QUERIES.items()
    if s.oracle is None and n not in BOUND_CHECKED_QUERIES
]


def _retag_oracle(sql: str) -> str:
    """Oracle strings are static (the driver runs them verbatim at
    sf0.01), so persisted-index paths are baked in at the sf0.01 tag;
    swap the tag when parity runs at a different scale."""
    tag = os.path.basename(os.path.normpath(SF_DIR))
    # index paths are templated from _index_dir's root (repo-relative or
    # SPARK_GRAFT_INDEX_DIR), so only the sf tag segment needs rewriting
    return sql.replace("/sf0.01/", f"/{tag}/")


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, name):
    spec = QUERIES[name]
    sdf = spec.fn(spark, SF_DIR)
    odf = duckdb_run(_retag_oracle(spec.oracle), SF_DIR)
    assert_matches(sdf, odf, name)


def test_asof_join_rounds_exact_half_milliseconds(spark, tmp_path):
    """``sec_since_click`` rounds the integer microsecond gap HALF_UP to
    milliseconds in exact decimal arithmetic on both engines. Every gap here
    ends in exactly 500 µs, where rounding gap / 1e6 as a double splits
    (DuckDB's double round gives 0.5 for a 500,500 µs gap)."""
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    gaps = [500, 500_500, 501_500, 1_234_500, 2_000_500, 59_999_500]
    start = 1_704_067_200_000_000  # 2024-01-01 00:00 UTC in µs
    ts = [start + user * 3_600_000_000 + at for user, gap in enumerate(gaps) for at in (0, gap)]
    n = len(ts)
    pq.write_table(pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([i // 2 for i in range(n)], pa.int64()),
        "event_type": ["click", "purchase"] * len(gaps),
        "value": [1.0] * n,
        "props": ["{}"] * n,
    }), tmp_path / "events.parquet")
    spec = QUERIES["asof_join"]
    sdf = spec.fn(spark, str(tmp_path))
    want = [float((Decimal(g) / 10**6).quantize(Decimal("0.001"), ROUND_HALF_UP)) for g in gaps]
    assert [r["sec_since_click"] for r in sdf.collect()] == want
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{tmp_path / 'events.parquet'}'")
    assert_matches(sdf, con.sql(spec.oracle).df(), "asof_join")


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_queries_run(spark, name):
    spec = QUERIES[name]
    sdf = spec.fn(spark, SF_DIR)
    assert sdf.count() >= 0
    assert len(sdf.schema.fields) > 0


def test_grouped_stats_approx_bounded_by_duckdb_exact(spark):
    """grouped_stats_approx has no hash oracle (percentile_approx is a
    KLL-style sketch), but every NON-percentile column is an exact
    aggregate that must equal DuckDB exactly, and each approx percentile
    must sit within 1%% RANK error of the exact distribution (accuracy
    10000 → ~1e-4 guaranteed; 0.01 leaves slack for interpolation)."""
    sdf = QUERIES["grouped_stats_approx"].fn(spark, SF_DIR).toPandas()
    exact = duckdb_run(
        """
        SELECT l_returnflag,
               CAST(count(l_quantity) AS BIGINT) AS n,
               round(avg(l_quantity), 6) AS mean,
               round(stddev_samp(l_quantity), 6) AS stddev,
               round(min(l_quantity), 6) AS min,
               round(max(l_quantity), 6) AS max,
               round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
               round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qty_price,
               round(covar_pop(l_quantity, l_discount), 6) AS cov_qty_disc
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        SF_DIR,
    )
    import duckdb as _dd

    con = _dd.connect()
    con.sql(f"CREATE VIEW lineitem AS SELECT * FROM '{duck_path(SF_DIR, 'lineitem')}'")
    s = sdf.set_index("l_returnflag")
    e = exact.set_index("l_returnflag")
    assert sorted(s.index) == sorted(e.index)
    for col in ["n", "mean", "stddev", "min", "max", "corr_qty_price", "cov_qty_price", "cov_qty_disc"]:
        for flag in e.index:
            assert abs(s.loc[flag, col] - e.loc[flag, col]) < 1e-9, (col, flag)
    # rank-error bound: cdf(approx_value) within 0.01 of the target rank
    targets = {"median": (0.5, "l_quantity"), "p25": (0.25, "l_extendedprice"),
               "p50": (0.5, "l_extendedprice"), "p75": (0.75, "l_extendedprice"),
               "p90": (0.9, "l_extendedprice")}
    eps = 0.01
    for col, (p, src) in targets.items():
        for flag in e.index:
            v = float(s.loc[flag, col])
            lt, le = con.sql(
                f"SELECT avg(CASE WHEN {src} < {v} THEN 1.0 ELSE 0.0 END), "
                f"       avg(CASE WHEN {src} <= {v} THEN 1.0 ELSE 0.0 END) "
                f"FROM lineitem WHERE l_returnflag = '{flag}'"
            ).fetchone()
            # v is an ε-approximate p-quantile iff frac(<v) ≤ p+ε and
            # frac(≤v) ≥ p-ε — the tie-robust form (l_quantity has ~50
            # distinct values, so a plain cdf check would trip on steps)
            assert lt <= p + eps and le >= p - eps, (col, flag, lt, le)


def test_sketch_distinct_rollup_bounded_by_duckdb_exact(spark):
    """HLL estimates vs DuckDB exact COUNT(DISTINCT): n_events must match
    exactly; est_distinct_users within 5%% relative error (lgK=12 →
    ~1.6%% RSE, 3σ ≈ 5%%) for each scope AND the sketch-union ALL row."""
    sdf = QUERIES["sketch_distinct_rollup"].fn(spark, SF_DIR).toPandas()
    exact = duckdb_run(
        """
        SELECT event_type AS scope,
               CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY event_type
        UNION ALL
        SELECT 'ALL', CAST(count(DISTINCT user_id) AS BIGINT), CAST(count(*) AS BIGINT)
        FROM events
        ORDER BY scope
        """,
        SF_DIR,
    )
    s = sdf.set_index("scope")
    e = exact.set_index("scope")
    assert sorted(s.index) == sorted(e.index)
    for scope in e.index:
        assert int(s.loc[scope, "n_events"]) == int(e.loc[scope, "n_events"])
        est, act = float(s.loc[scope, "est_distinct_users"]), float(e.loc[scope, "exact_distinct"])
        assert abs(est - act) <= 0.05 * act, (scope, est, act)


def test_cms_user_counts_bounded_by_duckdb_exact(spark):
    """CMS never underestimates (every probed key's cells contain at
    least its own count) and overestimates by collision mass only —
    expected ~N/width extra per cell, taken min-over-depth. The exact
    per-key counts come from DuckDB; the deterministic lower bound must
    hold for every key, the generous upper bound (20x the expected
    collision mass) catches a broken hash/cell layout."""
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.plans.analytics import (
        CMS_WIDTH,
    )

    est = {r["user_id"]: r["est_count"] for r in QUERIES["cms_user_counts"].fn(spark, SF_DIR).collect()}
    exact_df = duckdb_run(
        """
        SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM events
        WHERE user_id IN (SELECT user_id FROM events GROUP BY user_id ORDER BY user_id LIMIT 20)
        GROUP BY user_id ORDER BY user_id
        """,
        SF_DIR,
    )
    n_total = duckdb_run("SELECT CAST(count(*) AS BIGINT) AS n FROM events", SF_DIR)["n"][0]
    slack = max(50, 20 * n_total // CMS_WIDTH)
    assert len(est) == len(exact_df)
    for _, row in exact_df.iterrows():
        e, x = est[row["user_id"]], row["n"]
        assert e >= x, (row["user_id"], e, x)
        assert e <= x + slack, (row["user_id"], e, x, slack)
