"""The read memo (``sources/memo.py``): a table or index rewritten by
another process is seen by the next read, and the engine keeps exactly
one module-level memo."""

from __future__ import annotations

import ast
import os
import pathlib
import shutil
import subprocess
import sys
import textwrap

from pyspark.sql import functions as F

import loan_approval_prediction_data_engineering_ml_pipeline_spark as engine
from loan_approval_prediction_data_engineering_ml_pipeline_spark.operators import similarity as S
from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.loaders import load_table

SF = "/root/testdata/sf0.001"


def _in_other_process(code: str) -> None:
    subprocess.run([sys.executable, "-c", textwrap.dedent(code)], check=True)


def test_load_table_sees_fixture_rewritten_by_another_process(spark, tmp_path):
    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copyfile(os.path.join(SF, "customer.parquet"), sf / "customer.parquet")
    warm = load_table(spark, str(sf), "customer")
    assert warm.count() > 0
    # 20 re-keyed copies more than double the file: a handle that kept
    # the old listing (file length) would skip the new row group
    _in_other_process(
        f"""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        t = pq.read_table({str(sf / "customer.parquet")!r})
        i = t.schema.get_field_index("c_custkey")
        t = pa.concat_tables(
            t.set_column(i, "c_custkey", pc.add(t["c_custkey"], 10**6 * k)) for k in range(1, 21)
        )
        pq.write_table(t, {str(sf / "customer.parquet")!r})
        """
    )
    import pyarrow.parquet as pq

    want = sorted(pq.read_table(sf / "customer.parquet").column("c_custkey").to_pylist())
    got = load_table(spark, str(sf), "customer")
    assert sorted(r["c_custkey"] for r in got.collect()) == want


def test_ivf_probe_sees_index_replaced_by_another_process(spark, tmp_path):
    emb = load_table(spark, SF, "embeddings")
    live, other = str(tmp_path / "live"), str(tmp_path / "other")
    S.build_ivf_index(emb.where(F.col("vec_id") % 2 == 0), live, n_lists=4, seed=42)
    S.build_ivf_index(emb.where(F.col("vec_id") % 2 == 1), other, n_lists=3, seed=7)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 1).first()["embedding"]]

    def probe(path):
        return [tuple(r) for r in S.ivf_query(spark, path, qv, 5, n_probe=2).collect()]

    want = probe(other)
    before = probe(live)
    _in_other_process(
        f"""
        import shutil
        shutil.rmtree({live!r})
        shutil.copytree({other!r}, {live!r})
        """
    )
    assert probe(live) == want != before


# registries: names bound once at import and filled by registration
# calls, not read memos
_REGISTRIES = {"QUERIES", "_STORES", "_STREAM_FS_RESOLVERS"}


def _empty_container(node: ast.expr) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    if isinstance(node, (ast.List, ast.Set)):
        return not node.elts
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id in ("dict", "list", "set")
        and not node.args
        and not node.keywords
    )


def test_engine_has_one_module_level_memo():
    """One mechanism per concern: a module-level name bound to an empty
    dict/set/list is a cache or a registry, and a ``global`` statement
    rebinds module state (a per-process flag is a cache too); the read
    memo in ``sources/memo.py`` is the only cache allowed."""
    root = pathlib.Path(engine.__file__).parent
    found = []
    for f in sorted(root.rglob("*.py")):
        rel = f.relative_to(root).as_posix()
        tree = ast.parse(f.read_text())
        found += [
            f"{rel}:{node.lineno} global {name}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Global)
            for name in node.names
        ]
        for node in tree.body:
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets = [node.target]
            else:
                continue
            if not _empty_container(node.value):
                continue
            for t in targets:
                name = ast.unparse(t)
                if name not in _REGISTRIES and (rel, name) != ("sources/memo.py", "_MEMO"):
                    found.append(f"{rel}:{node.lineno} {name}")
    assert found == []


def test_query_vec_is_read_once_per_version_of_the_embeddings(spark, tmp_path):
    """A warm ann_ivf build launches no Spark job: its query vector comes
    from the read memo. Rewriting the embeddings file is a new version,
    so the next read sees the new vector."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from loan_approval_prediction_data_engineering_ml_pipeline_spark.plans import llm_data as L
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.plans.registry import QUERIES

    sc, group = spark.sparkContext, "ann_ivf_warm_build"
    QUERIES["ann_ivf"].fn(spark, SF)
    sc.setJobGroup(group, group)
    try:
        QUERIES["ann_ivf"].fn(spark, SF)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copyfile(os.path.join(SF, "embeddings.parquet"), sf / "embeddings.parquet")
    t = pq.read_table(sf / "embeddings.parquet")
    before = L._query_vec(spark, str(sf), 0)
    i = t.schema.get_field_index("embedding")
    flipped = [[-x for x in v] if k == 0 else v
               for k, v in zip(t["vec_id"].to_pylist(), t["embedding"].to_pylist())]
    pq.write_table(t.set_column(i, t.schema.field(i), pa.array(flipped, t.schema.field(i).type)),
                   sf / "embeddings.parquet")
    assert L._query_vec(spark, str(sf), 0) == [-x for x in before] != before
