"""Registry queries are order-independent: none may leave a session conf
mutated (VERDICT r3 #1 — the shuffle-partitions leak that contaminated
bench rounds 2-5). Also: ``get_spark``'s Python workers import the
engine package whatever the driver's working directory.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from loan_approval_prediction_data_engineering_ml_pipeline_spark.session import scoped_conf

SF_SMOKE = "/root/testdata/sf0.001"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the three queries that tune spark.sql.shuffle.partitions for their eager
# replay/fit work — exactly the ones that leaked in r3
CONF_TUNING_QUERIES = ["streaming_hourly", "transition_stream_replay", "ml_loan_train_eval"]


def test_scoped_conf_restores_prior_value(spark):
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    with scoped_conf(spark, spark_sql_shuffle_partitions="7"):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    assert spark.conf.get("spark.sql.shuffle.partitions") == prior


def test_scoped_conf_restores_on_exception(spark):
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, spark_sql_shuffle_partitions="5"):
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == prior


def test_scoped_conf_unsets_previously_unset_key(spark):
    key = "graft.test.scoped-conf-probe"
    with scoped_conf(spark, **{"graft_test_scoped-conf-probe": "x"}):
        assert spark.conf.get(key) == "x"
    with pytest.raises(Exception):
        spark.conf.get(key)


@pytest.mark.parametrize("name", CONF_TUNING_QUERIES)
def test_registry_queries_leave_shuffle_partitions_unchanged(spark, name):
    """Run each conf-tuning query end-to-end (the eager part happens inside
    the query function) and assert the shared-session conf is untouched —
    the registry's order-independence contract (plans/registry.py)."""
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.plans.registry import QUERIES

    sentinel = "31"  # distinct from both the tuned values (8/32) and defaults
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", sentinel)
    try:
        df = QUERIES[name].fn(spark, SF_SMOKE)
        assert spark.conf.get("spark.sql.shuffle.partitions") == sentinel, (
            f"{name} leaked spark.sql.shuffle.partitions into the session"
        )
        assert df.count() >= 0
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)


def test_default_driver_memory_follows_host_memtotal(tmp_path):
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.session import (
        default_driver_memory,
    )

    def on_host(text):
        p = tmp_path / "meminfo"
        p.write_text(text)
        return default_driver_memory(str(p))

    # a 4 GB host gets half its memory, never the fixed 48g
    assert on_host("MemTotal:        4096000 kB\nMemFree:  100 kB\n") == "2000m"
    # a large host is capped at 48g
    assert on_host("MemTotal:      1048576000 kB\n") == "49152m"
    # a tiny host still gets a heap the JVM can start with
    assert on_host("MemTotal:          65536 kB\n") == "512m"
    # unreadable or malformed meminfo falls back to the cap
    assert default_driver_memory(str(tmp_path / "absent")) == "48g"
    assert on_host("MemFree: 1 kB\n") == "48g"


# a driver that finds the package only through its own sys.path; the
# pandas UDF's closure calls module-level helpers, which each Python
# worker unpickles by importing the package by name
WORKER_IMPORT = r"""
import sys
sys.path.insert(0, sys.argv[1])
from loan_approval_prediction_data_engineering_ml_pipeline_spark.operators import similarity
from loan_approval_prediction_data_engineering_ml_pipeline_spark.session import get_spark
spark = get_spark(app_name="worker-import", cpus="1", driver_memory="1g")
emb = spark.createDataFrame(
    [(1, [1.0, 0.0], "a"), (2, [1.0, 0.0], "a"), (3, [0.0, 1.0], "a")],
    "vec_id long, embedding array<double>, label string",
)
rows = sorted(tuple(r) for r in similarity.cosine_components(emb, 0.9).collect())
assert rows == [(1, 1), (2, 1)], rows
spark.stop()
"""


def test_workers_import_the_package_from_another_working_directory(tmp_path):
    # an empty SPARK_CONF_DIR of the caller's: the launch maps and dumps
    # no class-data-sharing archive
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_CONF_DIR"] = str(conf_dir)
    proc = subprocess.run([sys.executable, "-c", WORKER_IMPORT, ROOT], cwd=tmp_path, env=env,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]


def test_worker_daemon_rereads_a_zip_only_when_it_changed(tmp_path, monkeypatch):
    """The worker daemon's guarded ``zipimporter.invalidate_caches``:
    ``importlib.invalidate_caches()`` (which every Python worker task
    calls) re-reads no unchanged archive, and a rewritten archive's new
    module imports. JVM-free: a temp zip on ``sys.path``."""
    import importlib
    import zipfile
    import zipimport

    from loan_approval_prediction_data_engineering_ml_pipeline_spark import worker_daemon

    archive = str(tmp_path / "mods.zip")

    def write(**modules: str) -> None:
        with zipfile.ZipFile(archive, "w") as z:
            for name, body in modules.items():
                z.writestr(f"{name}.py", body)

    write(zmod_a="A = 1\n")
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    for name in ("zmod_a", "zmod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zmod_a").A == 1

    worker_daemon.guard_zip_rereads()
    importlib.invalidate_caches()  # the first guarded call reads once
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive not in reads

    write(zmod_a="A = 1\n", zmod_b="B = 2\n")
    os.utime(archive, ns=(0, os.stat(archive).st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zmod_b").B == 2
