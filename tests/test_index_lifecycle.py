"""Snapshot-atomic lifecycle tests for the PQ / IVF-PQ persisted
indexes (VERDICT r12 #4) — the same protocol guarantees the BM25 and
IVF families already prove: (a) a crash after the object write but
before the manifest commit changes nothing a reader can observe; (b) a
probe resolved before a mutation keeps ranking against its immutable
snapshot; (c) a lost manifest race raises CommitConflict with the
committed manifest untouched; (d) a REBUILD at a manifested path
commits the next version (the r12 torn-rebuild class); (e) vacuum
reclaims orphans/rolled-off objects by reference without breaking the
retained snapshot."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from loan_approval_prediction_data_engineering_ml_pipeline_spark.operators import (
    index_commit as IC,
)
from loan_approval_prediction_data_engineering_ml_pipeline_spark.operators import (
    similarity as SIM,
)
from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.loaders import (
    load_table,
)
from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.versioned import (
    CommitConflict,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings")


@pytest.fixture(scope="module")
def probe_vec(spark, emb):
    return [float(x) for x in emb.where(F.col("vec_id") == 7).first()["embedding"]]


def _new_vec(spark, probe_vec, vid=90001):
    return spark.createDataFrame(
        [(vid, probe_vec)], "vec_id long, embedding array<double>"
    )


def _lifecycle(
    spark, tmp_path, monkeypatch, probe_vec, *, name, build, probe, upsert
):
    """The shared 5-property proof: build -> probe -> crash-injected
    upsert (nothing changes) -> real upsert (visible; stale probe
    isolated; conflict raises) -> rebuild (next version, upsert gone)
    -> vacuum (reclaims, retained snapshot intact)."""
    idx = str(tmp_path / name)
    build(idx)
    before = sorted(map(tuple, probe(idx).collect()))
    stale_probe = probe(idx)

    new = _new_vec(spark, probe_vec)
    real_commit = SIM.commit_index_manifest

    def boom(path, version, doc):
        raise RuntimeError("injected crash before manifest commit")

    monkeypatch.setattr(SIM, "commit_index_manifest", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        upsert(idx, new)
    monkeypatch.setattr(SIM, "commit_index_manifest", real_commit)

    # (a) crash: nothing visible changed
    assert IC.read_index_manifest(idx) is None
    assert sorted(map(tuple, probe(idx).collect())) == before, (
        f"{name}: torn state visible after crashed upsert"
    )

    upsert(idx, new)
    man = IC.read_index_manifest(idx)
    assert man["version"] == 1
    got = probe(idx).collect()
    assert got[0]["vec_id"] == 90001, f"{name}: upsert not visible"
    # (b) the pre-upsert probe still ranks against the flat snapshot
    assert sorted(map(tuple, stale_probe.collect())) == before

    # (c) lost race: the committed manifest is untouched
    with pytest.raises(CommitConflict):
        IC.commit_index_manifest(idx, 1, {"bogus": "x"})
    assert IC.read_index_manifest(idx) == man

    # (d) rebuild at the manifested path commits v2; the upserted
    # vector (not in the rebuild corpus) disappears; results equal the
    # original fresh-build probe
    held = probe(idx)  # resolved against v1 (manifest read at plan build)
    build(idx)
    man2 = IC.read_index_manifest(idx)
    assert man2["version"] == 2, f"{name}: rebuild must commit the next manifest"
    after = probe(idx).collect()
    assert all(r["vec_id"] != 90001 for r in after), (
        f"{name}: probe pinned to stale manifest after rebuild (r12 bug class)"
    )
    assert sorted(map(tuple, after)) == before
    # the v1-pinned probe still sees the upserted vector (isolation)
    assert held.collect()[0]["vec_id"] == 90001

    # (e) vacuum: rolled-off v1 objects reclaim once quiesced; the
    # retained snapshot still probes identically
    assert IC.vacuum_index(idx, keep_last=1, grace_seconds=0.0) >= 1
    assert sorted(map(tuple, probe(idx).collect())) == before
    assert IC.index_versions(idx) == [2]


@pytest.mark.slow
def test_pq_index_lifecycle_snapshot_atomic(spark, tmp_path, monkeypatch, emb, probe_vec):
    _lifecycle(
        spark, tmp_path, monkeypatch, probe_vec,
        name="pq",
        build=lambda idx: SIM.build_pq_index(emb, idx, m=8, k=16),
        probe=lambda idx: SIM.pq_query(spark, idx, probe_vec, 5, exclude_id=7),
        upsert=lambda idx, new: SIM.pq_upsert(spark, idx, new),
    )


@pytest.mark.slow
def test_ivfpq_index_lifecycle_snapshot_atomic(spark, tmp_path, monkeypatch, emb, probe_vec):
    _lifecycle(
        spark, tmp_path, monkeypatch, probe_vec,
        name="ivfpq",
        build=lambda idx: SIM.build_ivfpq_index(emb, idx, n_lists=8, m=8, k=16),
        probe=lambda idx: SIM.ivfpq_query_rerank(
            spark, idx,
            emb.select("vec_id", "embedding").unionByName(
                _new_vec(spark, probe_vec)
            ),
            probe_vec, 5, exclude_id=7,
        ),
        upsert=lambda idx, new: SIM.ivfpq_upsert(spark, idx, new),
    )


@pytest.mark.slow
def test_pq_upsert_migrates_flat_blob_then_touches_buckets_only(
    spark, tmp_path, emb, probe_vec
):
    """The first PQ upsert migrates the unbucketed flat blob into
    n_files id buckets (one-time); the SECOND touches only the delta's
    buckets and cold buckets carry over by reference (zero copy)."""
    idx = str(tmp_path / "pq_mig")
    SIM.build_pq_index(emb, idx, m=8, k=16)
    t1 = SIM.pq_upsert(spark, idx, _new_vec(spark, probe_vec, 90001), n_files=8)
    assert t1 == 8  # full migration
    man1 = IC.read_index_manifest(idx)
    assert man1["n_files"] == 8 and len(man1["codes"]) == 8
    t2 = SIM.pq_upsert(spark, idx, _new_vec(spark, probe_vec, 90002))
    assert t2 == 1  # one id -> one touched bucket
    man2 = IC.read_index_manifest(idx)
    carried = sum(1 for k, v in man2["codes"].items() if man1["codes"][k] == v)
    assert carried == 7, "cold buckets must carry over by reference"
    got = SIM.pq_query(spark, idx, probe_vec, 5, exclude_id=7).collect()
    assert {got[0]["vec_id"], got[1]["vec_id"]} == {90001, 90002}
    # re-applying a delta (retried ingest) is a per-id REPLACE no-op
    SIM.pq_upsert(spark, idx, _new_vec(spark, probe_vec, 90002))
    again = SIM.pq_query(spark, idx, probe_vec, 5, exclude_id=7).collect()
    assert {again[0]["vec_id"], again[1]["vec_id"]} == {90001, 90002}
    n = SIM._pq_codes_df(spark, idx).where(F.col("vec_id") == 90002).count()
    assert n == 1


@pytest.mark.slow
def test_ivf_upsert_four_writer_race_serializes_via_occ(spark, tmp_path, emb, probe_vec):
    """The BM25 4-writer OCC standard applied to the ANN side: four
    concurrent ivf_upserts of DISJOINT deltas with retries must
    serialize through the manifest log (one version each) and the final
    index must equal one upsert of the concatenated delta — no lost
    vector, no double ingest, no torn cell."""
    import threading

    idx = str(tmp_path / "ivf_race")
    SIM.build_ivf_index(emb, idx, n_lists=8)
    deltas = [
        spark.createDataFrame(
            [(90000 + 10 * w + i, probe_vec) for i in range(3)],
            "vec_id long, embedding array<double>",
        )
        for w in range(4)
    ]
    errors: list[Exception] = []
    barrier = threading.Barrier(4)

    def work(w: int) -> None:
        try:
            barrier.wait()
            SIM.ivf_upsert(spark, idx, deltas[w], retries=8)
        except Exception as exc:
            errors.append(exc)

    threads = [threading.Thread(target=work, args=(w,)) for w in range(4)]
    [t.start() for t in threads]
    [t.join() for t in threads]
    assert not errors, errors
    assert IC.read_index_manifest(idx)["version"] == 4  # 4 serialized upserts

    # reference: one upsert of the union delta into a fresh copy
    ref = str(tmp_path / "ivf_ref")
    SIM.build_ivf_index(emb, ref, n_lists=8)
    union = deltas[0]
    for d in deltas[1:]:
        union = union.unionByName(d)
    SIM.ivf_upsert(spark, ref, union)
    got = sorted(map(tuple, SIM.ivf_query(spark, idx, probe_vec, k=15, exclude_id=7).collect()))
    want = sorted(map(tuple, SIM.ivf_query(spark, ref, probe_vec, k=15, exclude_id=7).collect()))
    assert got == want
    # every delta id present exactly once
    cells = SIM._ivf_cells(spark, idx).where(F.col("vec_id") >= 90000)
    ids = [r[0] for r in cells.select("vec_id").collect()]
    assert sorted(ids) == sorted(90000 + 10 * w + i for w in range(4) for i in range(3))


@pytest.mark.slow
def test_pq_concurrent_upserts_serialize_via_occ(spark, tmp_path, emb, probe_vec):
    """Two concurrent upserts of disjoint deltas with OCC retries must
    serialize through the manifest log for the PQ family too. They also
    race the one-time flat-blob MIGRATION: both writers may decide to
    migrate simultaneously — the loser must rebase onto the winner's
    bucketed layout, not re-migrate over it."""
    import threading

    idx = str(tmp_path / "pq_race")
    SIM.build_pq_index(emb, idx, m=8, k=16)
    upsert = lambda d: SIM.pq_upsert(spark, idx, d, retries=8)
    probe = lambda: SIM.pq_query(spark, idx, probe_vec, 15, exclude_id=7)

    deltas = [
        spark.createDataFrame(
            [(90000 + 10 * w + i, probe_vec) for i in range(3)],
            "vec_id long, embedding array<double>",
        )
        for w in range(2)
    ]
    errors: list[Exception] = []
    barrier = threading.Barrier(2)

    def work(w: int) -> None:
        try:
            barrier.wait()
            upsert(deltas[w])
        except Exception as exc:
            errors.append(exc)

    threads = [threading.Thread(target=work, args=(w,)) for w in range(2)]
    [t.start() for t in threads]
    [t.join() for t in threads]
    assert not errors, errors
    assert IC.read_index_manifest(idx)["version"] == 2  # two serialized commits
    got = probe().collect()
    ids = {r["vec_id"] for r in got[:6]}
    want = {90000 + 10 * w + i for w in range(2) for i in range(3)}
    assert ids == want, (ids, got)


@pytest.mark.slow
def test_pq_upsert_rejects_widened_id_type(spark, tmp_path, emb, probe_vec):
    """ADVICE r13 (medium): a delta whose id dtype differs from the
    build's must be rejected loudly — xxhash64 buckets by binary
    representation, so a widened/mismatched id would hash to a
    different lb bucket, the per-id REPLACE anti-join would miss, and
    the stale row would silently survive (duplicate id in the index).
    Mirrors the upsert_bm25_index guard."""
    idx = str(tmp_path / "pq_dtype")
    SIM.build_pq_index(emb, idx, m=8, k=16)
    narrow = spark.createDataFrame(
        [(7, probe_vec)], "vec_id int, embedding array<double>"
    )
    with pytest.raises(ValueError, match="id type"):
        SIM.pq_upsert(spark, idx, narrow)
    # the guard holds on the bucketed (post-migration) layout too
    SIM.pq_upsert(spark, idx, _new_vec(spark, probe_vec, 90001), n_files=8)
    with pytest.raises(ValueError, match="id type"):
        SIM.pq_upsert(spark, idx, narrow)
    # a correctly-typed delta still goes through
    SIM.pq_upsert(spark, idx, _new_vec(spark, probe_vec, 90002))
    got = SIM.pq_query(spark, idx, probe_vec, 5, exclude_id=7).collect()
    assert {got[0]["vec_id"], got[1]["vec_id"]} == {90001, 90002}


@pytest.mark.slow
def test_empty_probe_schema_matches_built_id_type(spark, tmp_path, emb, probe_vec):
    """ADVICE r13 (low): an index built with a non-long id column must
    return the SAME schema from the empty-probe early return as from
    the non-empty path, or downstream unions/joins break only in the
    rare all-buckets-missing case."""
    iemb = emb.select(F.col("vec_id").cast("int").alias("vec_id"), "embedding")

    ivfpq = str(tmp_path / "ivfpq_int")
    SIM.build_ivfpq_index(iemb, ivfpq, n_lists=8, m=8, k=16)
    full2 = SIM.ivfpq_query_rerank(spark, ivfpq, iemb, probe_vec, 5)
    snap2 = SIM._ivfpq_snapshot(ivfpq)
    empty2 = SIM._empty_topk(
        spark, ivfpq, list(snap2["cells"].values()), "vec_id"
    )
    assert empty2.schema == full2.schema
    # an index with NOTHING to derive from still yields the long default
    bare = SIM._empty_topk(spark, str(tmp_path / "nowhere"), [], "vec_id")
    assert [f.dataType.simpleString() for f in bare.schema.fields] == [
        "bigint", "double",
    ]


@pytest.mark.slow
def test_size_derived_n_lists_default(spark, tmp_path, emb, probe_vec):
    """n_lists=None sizes the quantizer by the sqrt(N) policy the r14
    two-build sweep measured (~1.7x fewer candidate rows at equal
    recall): ceil(sqrt(N)) clamped to [2, 65536], recoverable from the
    centroid table (flat build) and recorded in the manifest (rebuild
    at a manifested path)."""
    # pure policy unit points, including both clamps
    assert SIM.default_n_lists(1) == 2
    assert SIM.default_n_lists(100) == 10
    assert SIM.default_n_lists(101) == 11
    assert SIM.default_n_lists(10**12) == 65536

    # two corpus sizes through the actual build
    small = emb.limit(100)
    idx_small = str(tmp_path / "ivf_auto_small")
    SIM.build_ivf_index(small, idx_small, n_lists=None, seed=42)
    assert SIM._ivf_centroids(spark, idx_small).count() == 10

    idx_full = str(tmp_path / "ivf_auto_full")
    n = emb.count()
    SIM.build_ivf_index(emb, idx_full, n_lists=None, seed=42)
    assert SIM._ivf_centroids(spark, idx_full).count() == SIM.default_n_lists(n)

    # manifested rebuild records the derived value
    SIM.ivf_upsert(spark, idx_small, _new_vec(spark, probe_vec))
    SIM.build_ivf_index(small, idx_small, n_lists=None, seed=42)
    man = IC.read_index_manifest(idx_small)
    assert man is not None and man["n_lists"] == 10

    # probes work unchanged against the auto-sized index
    got = SIM.ivf_query(spark, idx_full, probe_vec, k=5, n_probe=3)
    assert got.count() == 5


@pytest.mark.slow
def test_residual_ivfpq_invariant_and_upsert(spark, tmp_path, emb, probe_vec):
    """Residual IVFADC (codebooks fit on v - c(cell), probe adds the
    per-cell constant dot(q, c)): with every cell probed and the
    shortlist covering the corpus, the exact rerank must reproduce
    brute force EXACTLY — the end-to-end proof that the constant +
    residual-ADC decomposition ranks coherently across cells. An upsert
    on the manifested residual path must keep the flag (manifest wins)
    and surface the new vector as the top cosine hit."""
    idx = str(tmp_path / "ivfpqr")
    SIM.build_ivfpq_index(emb, idx, n_lists=8, m=8, k=16, seed=42, residual=True)
    # the FLAT build persists the encoding in its pqmeta.json sidecar
    # (ADVICE r15): the snapshot recovers residual=True, so a probe that
    # OMITS the caller flag still scores residually — the silent-wrong-
    # rankings failure mode is closed
    assert SIM._ivfpq_snapshot(idx)["residual"] is True
    got = [
        (r["vec_id"], r["cosine"])
        for r in SIM.ivfpq_query_rerank(
            spark, idx, emb, probe_vec, 10,
            n_probe=8, shortlist=10**6, exclude_id=7,
        ).collect()
    ]
    ref = [
        (r["vec_id"], r["cosine"])
        for r in SIM.brute_force_topk(emb, 7, 10).collect()
    ]
    assert got == ref and len(got) == 10

    # upsert WITHOUT the caller's flag: the sidecar-recovered snapshot
    # flag wins, the delta is residual-encoded, and the MANIFESTED path
    # records residual=True from then on; the duplicate of the probe
    # vector must come back as the top hit
    nv = _new_vec(spark, probe_vec)
    SIM.ivfpq_upsert(spark, idx, nv)
    assert IC.read_index_manifest(idx)["residual"] is True
    corpus = emb.select("vec_id", "embedding").unionByName(nv)
    top = SIM.ivfpq_query_rerank(
        spark, idx, corpus, probe_vec, 3, n_probe=8, shortlist=10**6
    ).collect()
    assert top[0]["vec_id"] == 90001 or top[0]["vec_id"] == 7
    assert abs(top[0]["cosine"] - 1.0) < 1e-6


@pytest.mark.slow
def test_large_codebook_encode_path(spark, tmp_path, emb, probe_vec):
    """k > 32 codebooks take the HOF encode path (nested array literal +
    transform/aggregate instead of the m·k·sub codegen unroll — r16, the
    k=256 enabler): same squared-L2 argmin semantics, so the exactness
    invariants must hold end to end — full-probe/full-shortlist IVF-PQ
    equals brute force, and an upsert (which re-encodes with the
    PERSISTED books through the same expression builder) surfaces the
    duplicate vector as the top hit."""
    idx = str(tmp_path / "ivfpq_largek")
    SIM.build_ivfpq_index(emb, idx, n_lists=4, m=8, k=40, seed=42)
    got = [
        (r["vec_id"], r["cosine"])
        for r in SIM.ivfpq_query_rerank(
            spark, idx, emb, probe_vec, 10,
            n_probe=4, shortlist=10**6, exclude_id=7,
        ).collect()
    ]
    ref = [
        (r["vec_id"], r["cosine"])
        for r in SIM.brute_force_topk(emb, 7, 10).collect()
    ]
    assert got == ref and len(got) == 10
    nv = _new_vec(spark, probe_vec)
    SIM.ivfpq_upsert(spark, idx, nv)
    corpus = emb.select("vec_id", "embedding").unionByName(nv)
    top = SIM.ivfpq_query_rerank(
        spark, idx, corpus, probe_vec, 1, n_probe=4, shortlist=10**6
    ).first()
    assert abs(top["cosine"] - 1.0) < 1e-6


@pytest.mark.slow
def test_ivfpq_batch_matches_single_probe_and_brute_force(
    spark, tmp_path, emb, probe_vec
):
    """The batched IVF-PQ probe (r16): a 1-row batch must reproduce
    ivfpq_query_rerank EXACTLY (same centroid ranking, ADC values,
    shortlist cut, rerank — the relational ADC table is the literal
    table's join form), and on a RESIDUAL build with every cell probed
    and the shortlist covering the corpus the batch path must equal
    brute force — including recovering the residual flag from the flat
    build's sidecar with no caller flag."""
    idx = str(tmp_path / "ivfpq")
    SIM.build_ivfpq_index(emb, idx, n_lists=8, m=8, k=16, seed=42)
    qdf = emb.where(F.col("vec_id") == 7)
    qv = [float(x) for x in qdf.first()["embedding"]]
    single = [
        (r["vec_id"], r["cosine"])
        for r in SIM.ivfpq_query_rerank(
            spark, idx, emb, qv, 10, n_probe=3, shortlist=50, exclude_id=7
        ).collect()
    ]
    batch1 = [
        (r["vec_id"], r["cosine"])
        for r in SIM.ivfpq_batch_topk(
            spark, idx, qdf, emb, 10, n_probe=3, shortlist=50
        ).collect()
    ]
    assert batch1 == single and len(batch1) == 10

    ridx = str(tmp_path / "ivfpqr")
    SIM.build_ivfpq_index(emb, ridx, n_lists=8, m=8, k=16, seed=42, residual=True)
    rb = [
        (r["vec_id"], r["cosine"])
        for r in SIM.ivfpq_batch_topk(
            spark, ridx, qdf, emb, 10, n_probe=8, shortlist=10**6
        ).collect()
    ]
    bf = [
        (r["vec_id"], r["cosine"])
        for r in SIM.brute_force_topk(emb, 7, 10).collect()
    ]
    assert rb == bf

    # a 3-query batch returns k rows per query, each query's rows
    # internally ordered (query_id, cosine desc, id)
    multi = SIM.ivfpq_batch_topk(
        spark, idx, emb.where(F.col("vec_id") < 3), emb, 5,
        n_probe=3, shortlist=50,
    ).collect()
    assert len(multi) == 15
    assert [r["query_id"] for r in multi] == sorted(r["query_id"] for r in multi)


@pytest.mark.slow
def test_default_build_records_calibrated_recipe_probes_resolve_it(
    spark, tmp_path, emb
):
    """VERDICT r16 #1: the measured recipe must be what a defaults-
    following user gets. A zero-config build_ivfpq_index must (a) pick
    the sqrt-N list count and k=256, (b) CALIBRATE n_probe against the
    corpus's own neighbor-cell-coverage curve and record the operating
    point in pqmeta.json, (c) have probes default from the record, (d)
    carry the record through an upsert's manifest commit, and (e) keep
    pre-recipe indexes (no record) on the legacy 6/500 point."""
    import json

    idx = str(tmp_path / "ivfpq_default")
    S_n = emb.count()
    SIM.build_ivfpq_index(emb, idx)
    snap = SIM._ivfpq_snapshot(idx)
    rec = snap["recommend"]
    assert rec["calibrated"] is True and rec["k"] == 256
    assert rec["n_vectors"] == S_n
    assert 1 <= rec["n_probe"] <= SIM.default_n_lists(S_n)
    assert rec["shortlist"] == max(100, -(-S_n * 5 // 100))
    assert rec["coverage"] >= 0.9

    # probes resolve the record: explicit args win, None defaults to it
    assert SIM._resolve_probe_params(snap, None, None) == (
        rec["n_probe"], rec["shortlist"],
    )
    assert SIM._resolve_probe_params(snap, 3, 50) == (3, 50)
    # pre-recipe fallback: a snapshot without a record serves 6/500
    assert SIM._resolve_probe_params({"residual": False}, None, None) == (6, 500)

    # the default probe actually runs at the recorded point and is
    # exact-rerank correct for the recorded shortlist depth
    qv = [float(x) for x in emb.where(F.col("vec_id") == 7).first()["embedding"]]
    top = SIM.ivfpq_query_rerank(spark, idx, emb, qv, 3, exclude_id=7).collect()
    assert len(top) == 3 and top[0]["cosine"] >= top[-1]["cosine"]

    # (d) upsert carries the record into its manifest commit
    SIM.ivfpq_upsert(spark, idx, _new_vec(spark, qv))
    snap2 = SIM._ivfpq_snapshot(idx)
    assert snap2["version"] >= 1 and snap2["recommend"] == rec

    # the plain-IVF tier records/resolves the same way (r17): fresh
    # build -> ivfmeta.json sidecar; default probe resolves it; a
    # record-less index keeps the legacy 6
    ividx = str(tmp_path / "ivf_default")
    SIM.build_ivf_index(emb, ividx, n_lists=4)
    ivrec = SIM._ivf_snapshot(ividx)["recommend"]
    assert ivrec["calibrated"] is True and 1 <= ivrec["n_probe"] <= 4
    top_iv = SIM.ivf_query(spark, ividx, qv, 3, exclude_id=7).collect()
    assert len(top_iv) == 3
    SIM.ivf_upsert(spark, ividx, _new_vec(spark, qv))
    assert SIM._ivf_snapshot(ividx)["recommend"] == ivrec

    # calibrate_queries=0 records the static prior instead
    idx0 = str(tmp_path / "ivfpq_prior")
    SIM.build_ivfpq_index(emb, idx0, n_lists=4, m=8, k=16, calibrate_queries=0)
    with open(idx0 + "/pqmeta.json") as fh:
        rec0 = json.load(fh)["recommend"]
    assert "calibrated" not in rec0 and rec0["n_probe"] == 4
    assert rec0["shortlist"] == max(100, -(-S_n * 25 // 100))


@pytest.mark.slow
def test_ivfpq_batch_empty_manifested_snapshot_returns_typed_empty(
    spark, tmp_path, emb
):
    """ADVICE r16: a manifested IVF-PQ snapshot whose cells map is empty
    (everything deleted) used to crash the batch probe with IndexError
    while the single probe returned a typed empty frame — the batch path
    must honor the same contract: zero rows, (query_id, vec_id, cosine)
    schema with the id types of the caller's frames."""
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.operators.index_commit import (
        commit_index_manifest,
    )

    idx = str(tmp_path / "ivfpq_hollow")
    SIM.build_ivfpq_index(emb, idx, n_lists=4, m=8, k=16, seed=42)
    snap = SIM._ivfpq_snapshot(idx)
    commit_index_manifest(idx, 1, {**snap, "cells": {}})
    out = SIM.ivfpq_batch_topk(
        spark, idx, emb.where(F.col("vec_id") < 2), emb, 5
    )
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["query_id", "vec_id", "cosine"]
    assert out.schema["vec_id"].dataType.simpleString() == "bigint"


@pytest.mark.slow
def test_pq_families_tolerate_low_diversity_subspaces(spark, tmp_path):
    """Spark KMeans returns FEWER than k centers when a subspace has
    fewer distinct points — real on low-diversity corpora (the
    text-derived embeddings triggered it): a constant subspace yields a
    1-entry codebook, leaving unassigned code slots. The ADC table and
    the upsert's codebook reconstruction must tolerate the short
    per-subspace books (codes are contiguous prefixes) instead of
    indexing None."""
    import random

    rnd = random.Random(7)
    rows = [
        # dims 0..7 constant (subspace 0 collapses to one center);
        # the rest vary
        (i, [1.0] * 8 + [rnd.uniform(-1, 1) for _ in range(56)])
        for i in range(120)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qv = rows[5][1]

    pq = str(tmp_path / "pq_low")
    SIM.build_pq_index(emb, pq, m=8, k=16, seed=42)
    got = SIM.pq_query_rerank(spark, pq, emb, qv, 5, shortlist=120, exclude_id=5)
    ref = SIM.brute_force_topk(emb, 5, 5)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in ref.collect()]
    # upsert reconstructs the persisted books (short subspaces included)
    SIM.pq_upsert(spark, pq, _new_vec(spark, qv))
    assert SIM.pq_query_rerank(
        spark, pq, emb.unionByName(_new_vec(spark, qv)), qv, 1, shortlist=200
    ).first()["cosine"] > 0.999

    ivfpq = str(tmp_path / "ivfpq_low")
    SIM.build_ivfpq_index(emb, ivfpq, n_lists=4, m=8, k=16, seed=42)
    got2 = SIM.ivfpq_query_rerank(
        spark, ivfpq, emb, qv, 5, n_probe=4, shortlist=120, exclude_id=5
    )
    assert [tuple(r) for r in got2.collect()] == [tuple(r) for r in ref.collect()]
    SIM.ivfpq_upsert(spark, ivfpq, _new_vec(spark, qv, vid=90002))


@pytest.mark.slow
def test_ivfpq_batch_zero_query_vector_matches_single_probe(spark, tmp_path, emb):
    """ADVICE r17: the single probe guards a zero query norm with
    ``qn or 1.0`` (zero vector → 0.0 ADC scores), while a try_divide
    normalize would turn the batch's ADC sums all-NULL and diverge the
    shortlist. Pin the batch arm to the single probe on the degenerate
    input."""
    idx = str(tmp_path / "ivfpqz")
    SIM.build_ivfpq_index(emb, idx, n_lists=8, m=8, k=16, seed=42)
    dim = len(emb.first()["embedding"])
    zq = spark.createDataFrame(
        [(90002, [0.0] * dim)], "vec_id long, embedding array<double>"
    )
    single = [
        (r["vec_id"], r["cosine"])
        for r in SIM.ivfpq_query_rerank(
            spark, idx, emb, [0.0] * dim, 10, n_probe=3, shortlist=50
        ).collect()
    ]
    batch = [
        (r["vec_id"], r["cosine"])
        for r in SIM.ivfpq_batch_topk(
            spark, idx, zq, emb, 10, n_probe=3, shortlist=50
        ).collect()
    ]
    assert batch == single and len(batch) == 10
