"""Property-based tests (SURVEY.md §5.2.4): the scalar expression library
must agree with straightforward Python reference semantics on arbitrary
inputs, and the imputation/encoding operators must satisfy their
algebraic properties (idempotence, null-freedom)."""

from __future__ import annotations

import pytest

import hashlib
import math

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from loan_approval_prediction_data_engineering_ml_pipeline_spark.functions import cleaning as C
from loan_approval_prediction_data_engineering_ml_pipeline_spark.functions import text as X

WORD = st.text(alphabet="abcdefghij", min_size=1, max_size=6)
SENTENCE = st.lists(WORD, min_size=1, max_size=12).map(" ".join)

SLOW_OK = settings(
    max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)


@SLOW_OK
@given(st.lists(SENTENCE, min_size=1, max_size=8))
def test_token_count_matches_python(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = [r["n"] for r in df.select(X.token_count("text").alias("n")).collect()]
    assert got == [len(t.split(" ")) for t in texts]


@SLOW_OK
@given(st.lists(SENTENCE, min_size=1, max_size=6))
def test_minhash_matches_python_reference(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = [r["sig"] for r in df.select(X.minhash_signature("text", 4).alias("sig")).collect()]

    def ref_sig(text: str) -> list[int]:
        toks = set(text.strip().split(" "))
        base = [
            int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % X.MINHASH_PRIME
            for t in toks
        ]
        sig = []
        for i in range(4):
            a, b = X.minhash_coeffs(i)
            sig.append(min((a * h + b) % X.MINHASH_PRIME for h in base))
        return sig

    assert got == [ref_sig(t) for t in texts]


@SLOW_OK
@given(st.lists(st.one_of(WORD, st.none()), min_size=1, max_size=10))
def test_domain_rewrite_matches_dict_semantics(spark, vals):
    mapping = {"aa": "zz", "b": "y"}
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = [r["o"] for r in df.select(C.domain_rewrite("v", mapping).alias("o")).collect()]
    assert got == [mapping.get(v, v) if v is not None else None for v in vals]


@SLOW_OK
@given(
    st.lists(
        st.one_of(
            st.integers(-10**6, 10**6).map(str),
            st.text(alphabet="xyz.", min_size=1, max_size=5),
            st.none(),
        ),
        min_size=1,
        max_size=10,
    )
)
def test_cast_fallback_matches_python(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = [r["o"] for r in df.select(C.cast_with_null_fallback("v").alias("o")).collect()]

    def ref(v):
        if v is None:
            return None
        try:
            return float(v)
        except ValueError:
            return None

    expect = [ref(v) for v in vals]
    assert all(
        (g is None and e is None) or (g is not None and e is not None and math.isclose(g, e))
        for g, e in zip(got, expect)
    )


@SLOW_OK
@given(st.lists(st.sampled_from(["Y", "N", "maybe", None]), min_size=1, max_size=10))
def test_label_encode_matches_map(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = [r["o"] for r in df.select(C.label_encode("v", {"Y": 1, "N": 0}).alias("o")).collect()]
    assert got == [{"Y": 1, "N": 0}.get(v) if v is not None else None for v in vals]


def test_string_mode_imputer_idempotent(spark):
    from pyspark.ml.functions import vector_to_array

    from loan_approval_prediction_data_engineering_ml_pipeline_spark.ml import FusedPreprocessor

    df = spark.createDataFrame([(0, "a"), (1, "a"), (2, "b"), (3, None)], ["i", "c"])
    model = FusedPreprocessor(categoricalCols=["c"]).fit(df)
    mode = model.stats["categorical"]["c"]["mode"]

    def features(frame):
        return model.transform(frame).orderBy("i").select(vector_to_array("features")).collect()

    # imputing an already-imputed column changes nothing, and no row is left unfilled
    once = features(df)
    assert once == features(df.fillna({"c": mode}))
    assert all(sum(r[0]) == 1.0 for r in once)


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    n_toks=st.lists(st.integers(min_value=1, max_value=300), min_size=1, max_size=6),
    chunk=st.integers(min_value=4, max_value=64),
    overlap_frac=st.floats(min_value=0.0, max_value=0.9),
)
def test_chunking_reconstructs_any_document(spark, n_toks, chunk, overlap_frac):
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.operators.chunking import (
        chunk_documents,
    )

    overlap = min(int(chunk * overlap_frac), chunk - 1)
    stride = chunk - overlap
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(n))) for i, n in enumerate(n_toks)],
        ["doc_id", "text"],
    )
    out = chunk_documents(docs, chunk_tokens=chunk, overlap=overlap)
    by_doc: dict[int, list] = {}
    for r in out.collect():
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, n in enumerate(n_toks):
        rows = sorted(by_doc[i], key=lambda r: r["chunk_id"])
        # stitch: first chunk whole, then drop each chunk's overlap prefix
        stitched = rows[0]["chunk_text"].split(" ")
        for r in rows[1:]:
            stitched += r["chunk_text"].split(" ")[overlap:]
        assert stitched == [f"w{i}_{j}" for j in range(n)], (n, chunk, overlap)
        # every chunk obeys the size bound; all but the last are full
        assert all(r["chunk_len"] <= chunk for r in rows)
        assert all(r["chunk_len"] == chunk for r in rows[:-1])
        # chunk starts advance by stride
        assert len(rows) == 1 + max(0, -(-(n - chunk) // stride))


@SLOW_OK
@given(
    st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32),
        min_size=8,
        max_size=40,
    ),
    st.integers(min_value=2, max_value=5),
)
def test_bin_by_quantiles_partitions_any_data(spark, vals, n_bins):
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.operators.relational import (
        bin_by_quantiles,
    )

    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    out = bin_by_quantiles(df, "x", n_bins=n_bins).collect()
    # total: every row lands in exactly one bin in [1, n_bins]
    assert len(out) == len(vals)
    assert all(1 <= r["bin"] <= n_bins for r in out)
    # monotone: sorting by value never decreases the bin
    by_val = sorted(out, key=lambda r: r["x"])
    bins = [r["bin"] for r in by_val]
    assert bins == sorted(bins)


@settings(max_examples=3, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.floats(min_value=-1e4, max_value=1e4, allow_nan=False, width=32),
        min_size=1,
        max_size=30,
    )
)
@pytest.mark.slow
def test_pagerank_invariants_on_random_chains(spark, vals):
    # interpret consecutive value signs as a small deterministic graph:
    # vertex i -> vertex (i+1) % n, plus i -> 0 when vals[i] > 0
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.operators.graph import (
        pagerank,
    )

    n = max(2, min(6, len(vals)))
    edges = [(i, (i + 1) % n) for i in range(n)]
    edges += [(i, 0) for i in range(1, n) if vals[i % len(vals)] > 0]
    df = spark.createDataFrame(edges, "src int, dst int")
    ranks = {r["vertex"]: r["rank"] for r in
             pagerank(df, tol=1e-6, max_iter=120).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-5
    assert all(v > 0 for v in ranks.values())


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
@given(
    st.lists(  # a CDC stream: per batch, a dict of key -> (segment, limit)
        st.dictionaries(
            st.integers(min_value=1, max_value=4),
            st.tuples(st.sampled_from(["a", "b", "c"]), st.sampled_from([1.0, 2.0])),
            min_size=1, max_size=4,
        ),
        min_size=1, max_size=4,
    )
)
def test_scd2_merge_equals_reference_reconstruction(spark, tmp_path_factory, batches):
    """Applying arbitrary change batches incrementally must equal the
    from-scratch SCD2 reconstruction: per key, one interval per
    consecutive-distinct attribute value, closed at the next change's
    eff_ts, exactly one open current row."""
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.operators.maintenance import (
        scd2_merge,
    )

    dim = str(tmp_path_factory.mktemp("scd2") / "dim")
    for i, batch in enumerate(batches):
        rows = [(k, seg, lim, f"t{i:03d}") for k, (seg, lim) in sorted(batch.items())]
        scd2_merge(
            spark,
            dim,
            spark.createDataFrame(rows, "k int, seg string, lim double, eff_ts string"),
            ["k"],
            ["seg", "lim"],
        )

    # Python reference: replay the same batches per key
    hist: dict[int, list] = {}
    for i, batch in enumerate(batches):
        for k, (seg, lim) in sorted(batch.items()):
            rows = hist.setdefault(k, [])
            if rows and (rows[-1][0], rows[-1][1]) == (seg, lim):
                continue  # identical change: no-op
            if rows:
                rows[-1] = (rows[-1][0], rows[-1][1], rows[-1][2], f"t{i:03d}", False)
            rows.append((seg, lim, f"t{i:03d}", None, True))
    expected = {
        (k, seg, lim, vf, vt, cur)
        for k, rows in hist.items()
        for seg, lim, vf, vt, cur in rows
    }
    got = {
        (r["k"], r["seg"], r["lim"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in spark.read.parquet(dim).collect()
    }
    assert got == expected


@SLOW_OK
@given(
    st.lists(
        st.lists(WORD, min_size=2, max_size=10).map(" ".join),
        min_size=2,
        max_size=10,
    ),
    st.sampled_from([0.5, 0.8, 1.0]),
)
def test_prefix_filtered_jaccard_join_matches_python(spark, texts, t):
    """prefix_filtered_jaccard_join is EXACT for arbitrary corpora and
    thresholds: its pair set must equal the Python all-pairs Jaccard
    over distinct 2-shingle sets (short docs yield empty shingle sets —
    null Jaccard — and never pair, matching the operator's semantics)."""
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.operators import dedup as D

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in D.prefix_filtered_jaccard_join(
            df, min_jaccard=t, shingle_n=2
        ).collect()
    }

    def sh(text):
        toks = text.strip().split(" ")
        return {" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)}

    want = set()
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            a, b = sh(texts[i]), sh(texts[j])
            if not a or not b:
                continue
            jac = round(len(a & b) / len(a | b), 6)
            if jac >= t:
                want.add((i, j, jac))
    assert got == want
