"""Named-query registry — the single source of truth behind
``__spark_entry__.queries()`` / ``oracle_sql()``.

Each entry pairs a Spark callable ``(spark, sf_dir) -> DataFrame`` with an
equivalent ANSI-SQL string the DuckDB oracle runs on the same parquet
tables. The driver compares row count + schema + order-insensitive value
hash, so:

- every computed column is aliased identically on both sides;
- float aggregates are rounded (default 6 dp) on both sides so
  partition-order-dependent summation noise can't flip the hash;
- timestamps surfaced in results are formatted to strings on both sides
  (Spark session tz is pinned to UTC; duckdb is UTC-naive).

Entries with ``oracle=None`` are genuinely non-SQL-expressible (streaming,
LSH internals) and get the driver's weaker rows-only check.

Tiers: the driver's correctness snapshot verifies at most 50 queries (the
first 50 in registration order — CORRECTNESS_r01 was exactly that prefix),
so the registry is curated into two tiers:

- ``tier="driver"`` (exactly 50): the load-bearing operator set exposed via
  ``__spark_entry__.queries()`` / ``oracle_sql()`` — every one gets a
  driver-verified row per round.
- ``tier="local"``: distinct behaviours beyond the 50-query cap. Still
  fully oracle-parity-checked by ``tests/test_oracle_parity.py`` (which
  iterates ALL tiers) and still benchable; just not part of the driver's
  capped snapshot. A local query whose expressions a driver query
  already checks is deleted, not kept as a second copy; so is one that
  only measures another operator (the ANN recall sweeps: their
  operating points are recorded in SCALE.md). Kept, and why:

  - ``projection_drop`` and ``derived_arithmetic``:
    ``tests/test_plan_quality.py`` pins their ColumnPruning and pushdown
    plans;
  - ``events_hourly``: the batch twin ``tests/test_streaming.py``
    compares the streaming engine against;
  - ``grouped_stats_approx``: a bounded approximation of
    ``grouped_stats``, not an oracle twin;
  - ``deterministic_sample`` and ``dedup_minhash_groups``: operators no
    driver query reaches;
  - ``ann_pq``, ``ann_ivfpq`` and ``ann_ivf_batch``: the flat-PQ,
    single-probe IVF-PQ and batched IVF probes, which the driver tier's
    brute-force, IVF and batched IVF-PQ queries do not reach.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    fn: QueryFn
    _oracle: str | Callable[[], str] | None
    description: str = ""
    tier: str = "driver"

    @property
    def oracle(self) -> str | None:
        """Oracle SQL, building it lazily when registered as a callable.

        Lazy evaluation is the round-10 outage fix: ``oracle=`` used to
        be evaluated inside the decorator argument list at module import
        time, so one broken oracle builder (a KeyError in
        ``_gopher_oracle``) took down the entire package — ``queries()``,
        bench, and pytest collection. A callable oracle instead fails
        exactly one query, at the moment its SQL is first requested
        (parity test / driver compare)."""
        return self._oracle() if callable(self._oracle) else self._oracle


QUERIES: dict[str, QuerySpec] = {}


def query(
    name: str,
    oracle: str | Callable[[], str] | None = None,
    description: str = "",
    tier: str = "driver",
):
    """Decorator registering a named query with its oracle twin.

    ``oracle`` may be the SQL string or a zero-arg builder called lazily
    (preferred for oracles assembled from shared constants — see
    :class:`QuerySpec.oracle` for why)."""
    if tier not in ("driver", "local"):
        raise ValueError(f"unknown tier: {tier!r}")

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = QuerySpec(
            fn=fn, _oracle=oracle, description=description, tier=tier
        )
        return fn

    return deco


def spark_queries() -> dict[str, QueryFn]:
    """Driver-tier queries only — the capped, fully-verified surface."""
    return {name: spec.fn for name, spec in QUERIES.items() if spec.tier == "driver"}


def oracle_queries() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in QUERIES.items()
        if spec.tier == "driver" and spec.oracle is not None
    }
