"""SparkSession factory tuned for this engine.

Local mode runs one JVM with N executor threads; on a real cluster the
same confs apply per-executor. Settings are chosen for the 100 TB design
point and merely *scaled down* for local testing:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  broadcast demotion/promotion) — the per-round bench and a production
  cluster both benefit.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a cluster
  you would raise it to ~2-3x total cores (AQE coalesces the excess).
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (duckdb timestamps are UTC-naive).
- Arrow enabled: every pandas interchange (createDataFrame, toPandas,
  pandas UDFs, mapInPandas) moves columnar batches instead of pickled
  rows.
"""

from __future__ import annotations

import contextlib
import os
from typing import Iterator

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_UNSET = object()


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, **confs: str) -> Iterator[None]:
    """Temporarily set session confs, restoring prior values on exit.

    Registry queries must be order-independent: a query that tunes
    ``spark.sql.shuffle.partitions`` for its own eager work (a streaming
    replay, an MLlib fit) must not leak that setting into whatever runs
    next on the shared session. Keys are passed with ``_`` in place of
    ``.`` (``spark_sql_shuffle_partitions=...``) for keyword ergonomics.
    """
    prior: dict[str, object] = {}
    keys = {k.replace("_", "."): str(v) for k, v in confs.items()}
    for key, value in keys.items():
        try:
            prior[key] = spark.conf.get(key)
        except Exception:
            prior[key] = _UNSET
        spark.conf.set(key, value)
    try:
        yield
    finally:
        for key, old in prior.items():
            if old is _UNSET:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half the host's MemTotal, capped at 48g: a local-mode driver is the
    whole engine, but a heap the host cannot back gets the process killed
    instead of spilling. Hosts without ``meminfo`` get the cap."""
    cap_mb = 48 * 1024
    try:
        with open(meminfo) as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "48g"
    return f"{max(512, min(cap_mb, kb // 2048))}m"


def get_spark(
    app_name: str = "loan_pipeline_spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (driver contract) or all cores;
    ``driver_memory`` to $SPARK_DRIVER_MEMORY or :func:`default_driver_memory`.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus in ("*", None) else max(int(cpus), 4)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            driver_memory or os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
