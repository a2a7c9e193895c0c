"""Source/sink layer tests: S1 NDJSON scan with declared schema, S4/S5
DDL analog, S9 single-row source, and schema-drift detection."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources import (
    LOAN_SCHEMAS,
    load_table,
)
from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.loaders import (
    read_jsonlines,
    save_as_table,
    single_row_frame,
)


def test_read_jsonlines_declared_schema(spark, tmp_path):
    # the reference ingests NDJSON with inferred dtypes (MY.ipynb:24-28);
    # we declare the schema so types are stable and nulls are native
    p = tmp_path / "applicant.json"
    rows = [
        {"Loan_ID": "LP000001", "Gender": "Male", "Married": "Yes",
         "Dependents": "3+", "Education": "Graduate", "Self_Employed": None},
        {"Loan_ID": "LP000002", "Gender": None, "Married": "No",
         "Dependents": "0", "Education": "Not Graduate", "Self_Employed": "No"},
    ]
    p.write_text("\n".join(json.dumps(r) for r in rows))
    df = read_jsonlines(spark, str(p), LOAN_SCHEMAS["applicant_info"])
    assert df.schema == LOAN_SCHEMAS["applicant_info"]
    got = {r["Loan_ID"]: r for r in df.collect()}
    assert got["LP000001"]["Self_Employed"] is None
    assert got["LP000002"]["Gender"] is None
    assert got["LP000001"]["Dependents"] == "3+"


def test_save_as_table_and_sql(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    save_as_table(spark, df, "t_demo", str(tmp_path / "t_demo"))
    out = spark.sql("SELECT v FROM t_demo WHERE id = 2").collect()
    assert [r["v"] for r in out] == ["b"]


def test_single_row_frame(spark):
    row = {"Loan_ID": "LP999999", "Gender": "Female", "Married": "No",
           "Dependents": "1", "Education": "Graduate", "Self_Employed": "Yes"}
    df = single_row_frame(spark, row, LOAN_SCHEMAS["applicant_info"])
    assert df.count() == 1
    assert df.first()["Gender"] == "Female"


def test_schema_drift_detection(spark, tmp_path):
    # a renamed/retyped column in a fixture must fail loudly, not infer
    bad = str(tmp_path / "customer.parquet")
    spark.createDataFrame([(1, "x")], ["c_custkey", "wrong_col"]).write.parquet(bad)
    with pytest.raises(ValueError, match="schema drift"):
        load_table(spark, str(tmp_path), "customer")


def test_handle_cache_never_skips_validation(spark, tmp_path):
    """ADVICE r3: a validate=False read must not poison the handle cache —
    a later validate=True call on the same (sf_dir, table) still runs the
    schema-drift check."""
    bad = str(tmp_path / "customer.parquet")
    spark.createDataFrame([(1, "x")], ["c_custkey", "wrong_col"]).write.parquet(bad)
    # unvalidated read succeeds and is cached under its own key
    df = load_table(spark, str(tmp_path), "customer", validate=False)
    assert df.count() == 1
    with pytest.raises(ValueError, match="schema drift"):
        load_table(spark, str(tmp_path), "customer")  # validate=True default


def _crash_upsert(spark, tmp):
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.loaders import upsert_parquet

    path, schema = str(tmp / "t"), "id long, val string"
    upsert_parquet(spark.createDataFrame([(1, "a"), (2, "b")], schema), path, ["id"])
    batch = spark.createDataFrame([(2, "b2"), (3, "c")], schema)
    return (
        lambda: upsert_parquet(batch, path, ["id"]),
        {path: None},
        {(1, "a"), (2, "b2"), (3, "c")},
    )


def _crash_upsert_partitioned(spark, tmp):
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.loaders import (
        upsert_parquet_partitioned,
    )

    path, schema = str(tmp / "t"), "id long, val string, dt string"
    base = [(1, "a", "x"), (2, "b", "x"), (3, "c", "y"), (4, "d", "z")]
    upsert_parquet_partitioned(spark.createDataFrame(base, schema), path, ["id"], "dt")
    # touches two partitions: an update in x, an insert in y
    batch = spark.createDataFrame([(2, "b2", "x"), (5, "e", "y")], schema)
    return (
        lambda: upsert_parquet_partitioned(batch, path, ["id"], "dt"),
        {path: "dt"},
        {(1, "a", "x"), (2, "b2", "x"), (3, "c", "y"), (5, "e", "y"), (4, "d", "z")},
    )


def _crash_delete_partitioned(spark, tmp):
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.loaders import (
        delete_keys_partitioned,
    )

    path = str(tmp / "t")
    rows = [(u, d) for u in range(3) for d in (1, 2, 3)]
    spark.createDataFrame(rows, "u int, day int").write.partitionBy("day").parquet(path)
    # empties day 1, thins day 2, leaves day 3 cold
    keys = spark.createDataFrame([(0, 1), (1, 1), (2, 1), (0, 2)], "u int, day int")
    return (
        lambda: delete_keys_partitioned(spark, path, keys, ["u", "day"], "day"),
        {path: "day"},
        {(1, 2), (2, 2), (0, 3), (1, 3), (2, 3)},
    )


def _crash_rollup(spark, tmp, full_rebuild=False):
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.operators.maintenance import (
        incremental_rollup,
    )

    store, schema = str(tmp / "t"), "dt string, v long"

    def agg(fact):
        return fact.groupBy("dt").agg(F.sum("v").alias("s"))

    fact1 = [("a", 1), ("b", 2), ("c", 3), ("e", 4)]
    incremental_rollup(spark, spark.createDataFrame(fact1, schema), store, "dt", agg)
    # partition a changes, c vanishes, b and e stay cold; a full rebuild
    # swaps in the whole store, so it is compared whole and c must not
    # come back
    fact2 = spark.createDataFrame([("a", 1), ("a", 10), ("b", 2), ("e", 4)], schema)

    def run():
        n = incremental_rollup(spark, fact2, store, "dt", agg, full_rebuild=full_rebuild)
        # a recovered manifest keeps the re-run incremental: a and c, or
        # nothing once the new manifest is in
        assert n in ({3} if full_rebuild else {0, 2})

    return (
        run,
        {store: None if full_rebuild else "dt", store + "__manifest": None},
        {(11, "a"), (2, "b"), (4, "e")},
    )


def _crash_scd2(spark, tmp):
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.operators.maintenance import (
        scd2_merge,
    )

    dim, schema = str(tmp / "t"), "k int, a string, eff_ts string"
    scd2_merge(spark, dim, spark.createDataFrame([(1, "x", "d1"), (2, "y", "d1")], schema), ["k"], ["a"])
    batch = spark.createDataFrame([(1, "x2", "d2"), (3, "z", "d2")], schema)
    return (
        lambda: scd2_merge(spark, dim, batch, ["k"], ["a"]),
        {dim: None},
        {
            (1, "x", "d1", "d2", False), (1, "x2", "d2", None, True),
            (2, "y", "d1", None, True), (3, "z", "d2", None, True),
        },
    )


def _partition_rows(spark, path, part):
    """{partition value (None for an unpartitioned store): sorted rows}."""
    out: dict = {}
    for r in spark.read.parquet(path).collect():
        out.setdefault(r[part] if part else None, []).append(tuple(r))
    return {k: sorted(v, key=repr) for k, v in out.items()}


# (scenario, number of renames its commit makes); the upsert_parquet ids
# name the crash points of the whole-store swap
_CRASH_WRITERS = {
    "upsert": (_crash_upsert, 3),
    "upsert_partitioned": (_crash_upsert_partitioned, 5),
    "delete_partitioned": (_crash_delete_partitioned, 4),
    "rollup": (_crash_rollup, 7),
    "rollup_rebuild": (lambda spark, tmp: _crash_rollup(spark, tmp, full_rebuild=True), 6),
    "scd2": (_crash_scd2, 3),
}
_CRASH_CASES = [
    pytest.param("upsert", k, id=name)
    for k, name in enumerate(["before_swap", "between_renames", "after_swap", "after_retire"])
] + [
    pytest.param(w, k, id=f"{w}-{k}")
    for w, (_, n) in _CRASH_WRITERS.items()
    if w != "upsert"
    for k in range(n + 1)
]


@pytest.mark.parametrize("writer, crash", _CRASH_CASES)
def test_upsert_parquet_recovers_from_crash_during_swap(spark, tmp_path, monkeypatch, writer, crash):
    """Every parquet store rewrite writes its output once to a staging
    dir and commits it by renames. A crash before the first rename or
    after any of them (``crash`` = renames done) must leave, once
    recovered, each touched partition (or store compared whole) wholly
    old or wholly new. Recovery is checked on a copy of the crashed
    tree, so the re-run on the original tree has to recover by itself:
    it gives the expected rows and leaves no staging or parked copy."""
    import glob
    import shutil

    from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources import loaders as L

    live, copy = tmp_path / "live", tmp_path / "recovered"
    run, stores, want = _CRASH_WRITERS[writer][0](spark, live)
    old = {p: _partition_rows(spark, p, c) for p, c in stores.items()}
    real, calls = L._rename_path, []

    def rename(spark_, src, dst):
        if crash:
            real(spark_, src, dst)
            calls.append(dst)
        if len(calls) == crash:
            raise IOError("injected crash")

    monkeypatch.setattr(L, "_rename_path", rename)
    with pytest.raises(IOError, match="injected crash"):
        run()
    monkeypatch.undo()
    shutil.copytree(live, copy)
    now = {}
    for p, c in stores.items():
        q = p.replace(str(live), str(copy), 1)
        L._recover_swap(spark, q + "__staging", q)
        now[p] = _partition_rows(spark, q, c)
    run()
    new = {p: _partition_rows(spark, p, c) for p, c in stores.items()}
    for p in stores:
        for k in old[p].keys() | new[p].keys() | now[p].keys():
            assert now[p].get(k) in (old[p].get(k), new[p].get(k)), (p, k)
    main = next(iter(stores))
    assert {tuple(r) for r in spark.read.parquet(main).collect()} == want
    assert glob.glob(str(tmp_path / "*" / "*__staging")) == glob.glob(str(tmp_path / "*" / "*__old")) == []


def test_partitioned_rewrites_write_each_row_once(spark, tmp_path, monkeypatch):
    """A partitioned upsert, a partitioned delete and a rollup refresh
    with one changed partition each make exactly one data write: the
    rows go to staging once and are committed by renames (the rollup
    also writes its manifest once)."""
    from pyspark.sql.readwriter import DataFrameWriter

    from loan_approval_prediction_data_engineering_ml_pipeline_spark.operators.maintenance import (
        incremental_rollup,
    )
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.loaders import (
        delete_keys_partitioned,
        upsert_parquet_partitioned,
    )

    schema = "id long, v long, dt string"
    path, store = str(tmp_path / "t"), str(tmp_path / "r")
    base = spark.createDataFrame([(1, 1, "x"), (2, 2, "x"), (3, 3, "y")], schema)
    upsert_parquet_partitioned(base, path, ["id"], "dt")

    def agg(fact):
        return fact.groupBy("dt").agg(F.sum("v").alias("s"))

    incremental_rollup(spark, base, store, "dt", agg)
    real, writes = DataFrameWriter.parquet, []

    def parquet(self, p, *args, **kwargs):
        writes.append(p)
        return real(self, p, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    upsert_parquet_partitioned(
        spark.createDataFrame([(2, 20, "x"), (4, 4, "y")], schema), path, ["id"], "dt"
    )
    assert writes == [path + "__staging"]
    writes.clear()
    keys = spark.createDataFrame([(1, "x")], "id long, dt string")
    assert delete_keys_partitioned(spark, path, keys, ["id", "dt"], "dt") == 1
    assert writes == [path + "__staging"]
    writes.clear()
    fact2 = spark.createDataFrame([(1, 1, "x"), (2, 5, "x"), (3, 3, "y")], schema)
    assert incremental_rollup(spark, fact2, store, "dt", agg) == 1
    assert writes == [store + "__staging", store + "__manifest__staging"]


def test_csv_roundtrip_declared_schema(spark, tmp_path):
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.loaders import read_csv

    df = spark.createDataFrame(
        [("LP1", 1000.0, None), ("LP2", None, 360.0)],
        "Loan_ID string, ApplicantIncome double, Loan_Amount_Term double",
    )
    p = str(tmp_path / "csv")
    df.write.option("header", "true").csv(p)
    back = read_csv(spark, p, df.schema)
    assert back.schema == df.schema
    got = {r["Loan_ID"]: (r["ApplicantIncome"], r["Loan_Amount_Term"]) for r in back.collect()}
    assert got == {"LP1": (1000.0, None), "LP2": (None, 360.0)}


def test_orc_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    p = str(tmp_path / "orc")
    df.write.orc(p)
    assert {tuple(r) for r in spark.read.orc(p).collect()} == {(1, "a"), (2, "b")}


def test_compact_parquet_reduces_files(spark, tmp_path):
    import glob

    from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.loaders import (
        compact_parquet,
    )

    p = str(tmp_path / "frag")
    spark.range(0, 1000).repartition(16).write.parquet(p)
    before = len(glob.glob(p + "/part-*"))
    assert before >= 16
    compact_parquet(spark, p, target_files=2)
    after = len(glob.glob(p + "/part-*"))
    assert after <= 2
    assert spark.read.parquet(p).count() == 1000


def test_upsert_parquet_partitioned_touches_only_hot_partitions(spark, tmp_path):
    import glob
    import hashlib
    import os

    from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.loaders import (
        upsert_parquet_partitioned,
    )

    path = str(tmp_path / "store")
    base = spark.createDataFrame(
        [(1, "a", 1, "2024-01-01"), (2, "b", 1, "2024-01-01"),
         (3, "c", 1, "2024-01-02"), (4, "d", 1, "2024-01-03")],
        ["id", "val", "ver", "dt"],
    )
    upsert_parquet_partitioned(base, path, ["id"], "dt", order_col="ver")

    def snapshot(day: str) -> dict[str, str]:
        files = sorted(glob.glob(os.path.join(path, f"dt={day}", "*.parquet")))
        return {f: hashlib.md5(open(f, "rb").read()).hexdigest() for f in files}

    cold_02, cold_03 = snapshot("2024-01-02"), snapshot("2024-01-03")
    assert cold_02 and cold_03

    # batch touches only 2024-01-01: update id=2, insert id=5
    batch = spark.createDataFrame(
        [(2, "b2", 2, "2024-01-01"), (5, "e", 2, "2024-01-01")],
        ["id", "val", "ver", "dt"],
    )
    upsert_parquet_partitioned(batch, path, ["id"], "dt", order_col="ver")

    # partition-type inference reads dt back as date; normalize to str
    out = {(r["id"], r["val"], str(r["dt"])) for r in spark.read.parquet(path).collect()}
    assert out == {
        (1, "a", "2024-01-01"), (2, "b2", "2024-01-01"), (5, "e", "2024-01-01"),
        (3, "c", "2024-01-02"), (4, "d", "2024-01-03"),
    }
    # cold partitions: byte-identical files (never read, never rewritten)
    assert snapshot("2024-01-02") == cold_02
    assert snapshot("2024-01-03") == cold_03
    # idempotent reload (REPLACE INTO property) keeps counts stable
    upsert_parquet_partitioned(batch, path, ["id"], "dt", order_col="ver")
    assert spark.read.parquet(path).count() == 5


def test_upsert_parquet_partitioned_null_partition(spark):
    """isin() never matches NULL: rows in the null partition must still be
    merged, not silently dropped and overwritten away."""
    import tempfile

    from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.loaders import (
        upsert_parquet_partitioned,
    )

    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/store"
        base = spark.createDataFrame(
            [(1, "a", 1, None), (2, "b", 1, "2024-01-01")],
            "id long, val string, ver long, dt string",
        )
        upsert_parquet_partitioned(base, path, ["id"], "dt", order_col="ver")
        batch = spark.createDataFrame(
            [(3, "c", 2, None)], "id long, val string, ver long, dt string"
        )
        upsert_parquet_partitioned(batch, path, ["id"], "dt", order_col="ver")
        out = {(r["id"], r["val"]) for r in spark.read.parquet(path).collect()}
        assert out == {(1, "a"), (2, "b"), (3, "c")}


def test_upsert_parquet_partitioned_string_partition_round_trip(spark):
    """Partition values that don't survive type inference (zero-padded
    strings) must not fork into a second partition directory leaving the
    old rows alive."""
    import glob
    import tempfile

    from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.loaders import (
        upsert_parquet_partitioned,
    )

    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/store"
        base = spark.createDataFrame(
            [(1, "a", 1, "007")], "id long, val string, ver long, code string"
        )
        upsert_parquet_partitioned(base, path, ["id"], "code", order_col="ver")
        batch = spark.createDataFrame(
            [(1, "a2", 2, "007")], "id long, val string, ver long, code string"
        )
        upsert_parquet_partitioned(batch, path, ["id"], "code", order_col="ver")
        dirs = sorted(
            p.rsplit("/", 1)[-1] for p in glob.glob(f"{path}/code=*")
        )
        assert dirs == ["code=007"], dirs
        out = spark.read.schema(base.schema).parquet(path).collect()
        assert [(r["id"], r["val"], r["code"]) for r in out] == [(1, "a2", "007")]


def test_column_profile_approx_mode_avoids_expand(spark):
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.operators.relational import (
        column_profile,
    )
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.loaders import (
        load_table as _lt,
    )

    li = _lt(spark, "/root/testdata/sf0.001", "lineitem")
    ident = lambda x: x  # noqa: E731
    cols = {"l_orderkey": ident, "l_quantity": ident, "l_discount": ident}
    exact = column_profile(li, cols)
    approx = column_profile(li, cols, approx=True)
    # approx plan has no Expand; exact (oracle twin) does
    assert "Expand" not in approx._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in exact._jdf.queryExecution().executedPlan().toString()
    e = {r["column_name"]: r["n_distinct"] for r in exact.collect()}
    a = {r["column_name"]: r["n_distinct"] for r in approx.collect()}
    for c in cols:
        # approx_count_distinct default rsd=0.05 — allow 2 sigma
        assert abs(a[c] - e[c]) <= max(0.10 * e[c], 2), c


def test_orc_round_trip_preserves_rows_and_pushdown(spark, tmp_path):
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.loaders import (
        load_table,
        read_orc,
        write_orc,
    )

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    path = str(tmp_path / "orders_orc")
    write_orc(orders, path)
    back = read_orc(spark, path, orders.schema)
    assert back.count() == orders.count()
    assert back.schema == orders.schema
    assert back.exceptAll(orders).isEmpty() and orders.exceptAll(back).isEmpty()
    # filters reach the ORC scan (pushdown parity with parquet)
    import io, contextlib

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        read_orc(spark, path).where("o_totalprice > 100000.0").explain("formatted")
    assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,100000.0)]" in buf.getvalue()


def test_delete_keys_partitioned_purges_only_hot_partitions(spark, tmp_path):
    import os

    from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.loaders import (
        delete_keys_partitioned,
    )

    path = str(tmp_path / "store")
    rows = [(uid, day, uid * 10 + day) for uid in range(6) for day in (1, 2, 3)]
    df = spark.createDataFrame(rows, "user_id int, day int, v int")
    df.write.mode("overwrite").partitionBy("day").parquet(path)

    def file_sigs(day):
        d = os.path.join(path, f"day={day}")
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    cold_before = file_sigs(3)
    # delete users 0 and 1 from day 1 and 2 only (day 3 is cold)
    keys = spark.createDataFrame(
        [(0, 1), (1, 1), (0, 2), (1, 2)], "user_id int, day int"
    )
    n = delete_keys_partitioned(spark, path, keys, ["user_id", "day"], "day")
    assert n == 4
    back = spark.read.parquet(path)
    assert back.count() == 18 - 4
    assert back.where("user_id < 2 AND day < 3").isEmpty()
    # cold partition files untouched (same names, same mtimes)
    assert file_sigs(3) == cold_before

    # fully-emptied partition: delete every remaining key of day 1 —
    # its directory must disappear, not silently survive
    all_day1 = spark.read.parquet(path).where("day = 1").select("user_id", "day")
    n2 = delete_keys_partitioned(spark, path, all_day1, ["user_id", "day"], "day")
    assert n2 == 4
    assert not os.path.exists(os.path.join(path, "day=1"))
    assert spark.read.parquet(path).where("day = 1").isEmpty()
    # no-op delete returns 0
    assert delete_keys_partitioned(spark, path, keys, ["user_id", "day"], "day") == 0


def test_delete_keys_partitioned_escaped_partition_values(spark, tmp_path):
    import os

    from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.loaders import (
        delete_keys_partitioned,
    )

    path = str(tmp_path / "store_esc")
    rows = [(1, "web crawl", 10), (2, "web crawl", 20), (3, "books:v2", 30)]
    spark.createDataFrame(rows, "id int, source string, v int").write.mode(
        "overwrite"
    ).partitionBy("source").parquet(path)
    # the colon value writes under a Hive-escaped directory name; the
    # space stays literal — both must round-trip through the purge
    dirs = {d for d in os.listdir(path) if d.startswith("source=")}
    assert dirs == {"source=web crawl", "source=books%3Av2"}, dirs
    # empty out BOTH partitions (escaped and space-containing)
    keys = spark.createDataFrame([(1,), (2,), (3,)], "id int")
    n = delete_keys_partitioned(spark, path, keys, ["id"], "source")
    assert n == 3
    # the fully-emptied directories are actually gone, escaped or not
    assert not os.path.exists(os.path.join(path, "source=books%3Av2"))
    assert not os.path.exists(os.path.join(path, "source=web crawl"))
    assert spark.read.schema("id int, source string, v int").parquet(path).isEmpty()


def test_escape_hive_path_name_matches_jvm(spark):
    """The Python port must track Spark's ExternalCatalogUtils exactly
    (ADVICE r2: the _jvm call it replaced is version-fragile and absent
    under Spark Connect — so parity is asserted here instead, over the
    full ASCII range plus unicode)."""
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.loaders import (
        escape_hive_path_name,
    )

    jvm = getattr(spark, "_jvm", None)
    if jvm is None:
        pytest.skip("no _jvm (Spark Connect session): nothing to compare against")
    esc = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    cases = ["".join(chr(c) for c in range(1, 128)), "web crawl", "day=007", "ünïcode λ", "x%20y"]
    for s in cases:
        assert escape_hive_path_name(s) == esc.escapePathName(s), repr(s)


def test_delete_keys_partitioned_null_keys(spark, tmp_path):
    """ADVICE r2: a delete request whose key columns contain NULL must
    still purge its rows — the anti-join is eqNullSafe, not NULL = x."""
    import os

    from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.loaders import (
        delete_keys_partitioned,
    )

    path = str(tmp_path / "store_nullkey")
    rows = [(None, "d1", 10), (2, "d1", 20), (None, "d2", 30), (4, "d2", 40)]
    spark.createDataFrame(rows, "user_id int, day string, v int").write.mode(
        "overwrite"
    ).partitionBy("day").parquet(path)
    keys = spark.createDataFrame([(None, "d1")], "user_id int, day string")
    n = delete_keys_partitioned(spark, path, keys, ["user_id", "day"], "day")
    assert n == 1
    left = spark.read.parquet(path).select("user_id", "day", "v").collect()
    assert sorted((r["day"], r["v"]) for r in left) == [("d1", 20), ("d2", 30), ("d2", 40)]
    # NULL-keyed row in the untouched partition survives (d2 was never affected
    # by a matching key, so it is not rewritten at all)
    assert os.path.exists(path)


def test_read_evolved_parquet_surfaces_late_columns(spark, tmp_path):
    """Schema evolution: partitions written before a column existed must
    surface NULL for it under mergeSchema, with every row readable."""
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.loaders import (
        read_evolved_parquet,
    )

    store = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(
        f"{store}/dt=2024-01-01"
    )
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, score double"
    ).write.parquet(f"{store}/dt=2024-01-02")

    back = read_evolved_parquet(spark, store)
    assert {"id", "v", "score", "dt"} <= set(back.columns)
    rows = {r["id"]: (r["v"], r["score"]) for r in back.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}


def test_expire_partitions_drops_only_below_cutoff(spark, tmp_path):
    """TTL retention: partitions strictly below the cutoff vanish;
    surviving partition files are byte-identical (no rewrite)."""
    import hashlib
    import os

    from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.loaders import (
        expire_partitions,
        load_table,
    )
    from pyspark.sql import functions as F

    ev = load_table(spark, "/root/testdata/sf0.001", "events").withColumn(
        "dt", F.date_format("ts", "yyyy-MM-dd")
    )
    store = str(tmp_path / "events_ttl")
    ev.write.partitionBy("dt").parquet(store)
    days = sorted(r[0] for r in ev.select("dt").distinct().collect())
    cutoff = days[len(days) // 2]

    def digests():
        out = {}
        for root, _, files in os.walk(store):
            for f in files:
                p = os.path.join(root, f)
                out[os.path.relpath(p, store)] = hashlib.md5(
                    open(p, "rb").read()
                ).hexdigest()
        return out

    before = {k: v for k, v in digests().items() if f"dt={cutoff}" <= k.split("/")[0]}
    dropped = expire_partitions(spark, store, "dt", keep_from=cutoff)
    assert dropped == [d for d in days if d < cutoff]
    survivors = sorted(
        r[0]
        for r in spark.read.parquet(store)
        .select(F.col("dt").cast("string"))
        .distinct()
        .collect()
    )
    assert survivors == [d for d in days if d >= cutoff]
    after = {k: v for k, v in digests().items() if k.split("/")[0].startswith("dt=")}
    assert after == before  # surviving files untouched byte-for-byte


def test_unescape_hive_path_name_round_trip():
    """Every escapable character round-trips through escape→unescape,
    including the multi-escape timestamp shape the TTL comparison hits."""
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.loaders import (
        escape_hive_path_name,
        unescape_hive_path_name,
    )

    for raw in [
        "2024-01-01 10:30:00",
        "a/b:c=d%e",
        "plain-value_1.5",
        "%",
        "100%done",
        "",
    ]:
        assert unescape_hive_path_name(escape_hive_path_name(raw)) == raw
    # stray % not followed by two hex digits passes through untouched
    assert unescape_hive_path_name("a%zq") == "a%zq"
    assert unescape_hive_path_name("tail%") == "tail%"


def test_expire_partitions_escaped_values_and_null_partition(spark, tmp_path):
    """TTL cutoff compares RAW values, not escaped directory names
    (':'→'%3A' sorts before every digit, so escaped comparison would
    retain expired hours), and the NULL partition is kept unless
    explicitly opted in (ADVICE r4)."""
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.loaders import (
        expire_partitions,
    )

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 08:00:00"),
            (2, "2024-01-01 09:00:00"),
            (3, "2024-01-01 10:00:00"),
            (4, None),
        ],
        "id long, hr string",
    )
    store = str(tmp_path / "hourly")
    df.write.partitionBy("hr").parquet(store)

    dropped = expire_partitions(spark, store, "hr", keep_from="2024-01-01 09:30:00")
    # raw-value comparison: exactly the two pre-cutoff hours go; the NULL
    # partition survives by default
    assert dropped == ["2024-01-01 08:00:00", "2024-01-01 09:00:00"]
    back = spark.read.parquet(store)
    assert sorted(
        (r["id"] for r in back.collect())
    ) == [3, 4]

    dropped2 = expire_partitions(
        spark, store, "hr", keep_from="2024-01-01 09:30:00", drop_null_partition=True
    )
    assert dropped2 == [None]
    assert [r["id"] for r in spark.read.parquet(store).collect()] == [3]


def test_jdbc_table_absent_qualified_and_wildcard_names(spark, tmp_path):
    """_jdbc_table_absent's metadata probe (ADVICE r4): schema-qualified
    identifiers split into (schemaPattern, tableNamePattern) so an
    EXISTING qualified table classifies as present (absent=False →
    original transient error propagates instead of an overwrite), and
    '_' is escaped as a literal so 'loan_status' can't LIKE-match an
    existing 'loanXstatus'."""
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.loaders import (
        _jdbc_table_absent,
        write_jdbc,
    )

    url = f"jdbc:derby:{tmp_path}/absent_db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    write_jdbc(df, url, "loanXstatus", mode="overwrite", properties=props)

    class _NoState(Exception):
        java_exception = None

    exc = _NoState()
    # unqualified existing name → present
    assert _jdbc_table_absent(spark, url, "loanXstatus", props, exc) is False
    # schema-qualified existing name (Derby defaults to schema APP) → present
    assert _jdbc_table_absent(spark, url, "app.loanXstatus", props, exc) is False
    # '_' must not wildcard-match loanXstatus
    assert _jdbc_table_absent(spark, url, "loan_status", props, exc) is True
    # genuinely absent qualified name → absent
    assert _jdbc_table_absent(spark, url, "app.no_such_table", props, exc) is True
