"""Per-round benchmark harness (driver contract).

Runs the engine's headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is materialized via the noop sink — full computation, zero
driver-side collection — so the measured time is plan execution, not
result transfer. One untimed warm-up of the flagship query absorbs
JVM/codegen startup.

Each query runs $SPARK_GRAFT_BENCH_ITERS times (default 3) and reports
the per-query MEDIAN — single warm-JVM runs showed ±10-19% run-to-run
noise on sub-second queries (VERDICT r1), which medians suppress.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from loan_approval_prediction_data_engineering_ml_pipeline_spark.plans.registry import QUERIES  # noqa: E402
from loan_approval_prediction_data_engineering_ml_pipeline_spark.session import get_spark  # noqa: E402

# Headline set: the queries whose shape dominates at 100 TB — wide-agg
# scan, deep star join, window/sessionization, and (as they land) the
# dedup / similarity / text-analysis extensions.
HEADLINE = [
    "star_join_agg",
    "pricing_summary",
    "derived_arithmetic",
    "multi_star_join",
    "window_rank",
    "left_join_histogram",
    "events_hourly",
    "sessionization",
    "asof_join",
    "range_join_bucketed",
    "rollup_revenue",
    "dedup_exact",
    "dedup_minhash_near",
    "tfidf_top_terms",
    "ann_cosine_topk",
    "window_suite",
    "price_histogram",
    "near_dup_components",
    # r2 additions: chunking/packing (local tier) + merged driver-tier queries
    "doc_chunking",
    "sequence_packing",
    "decontaminate",
    "repetition_stats",
    "doc_profile",
    "lang_token_profile",
    "grouped_stats",
    "semi_anti_join",
    # r2 additions: event-sequence analytics + corpus mixture signals
    "funnel_conversion",
    "cohort_retention",
    "scd2_intervals",
    "rolling_active_users",
    "vocab_overlap",
    "ann_ivf",  # persisted-index probe (build amortized at first run)
    "bigram_lm_outliers",
    "grouped_stats_approx",
    "ann_pq",  # PQ shortlist + exact rerank (build amortized at first run)
    "semantic_dedup",  # SemDeDup: deterministic k-means + in-cluster GEMM pairs
    "training_shard_stats",  # shard-export plan: one hash exchange + local sort
    "phrase_merges",  # 6-round word2phrase merge loop (iterative, chained scans)
    "dedup_jaccard_prefix",  # exact PPJoin twin of dedup_minhash_near (r5)
    "ann_ivfpq",  # IVF-PQ composite probe (build amortized at first run, r5)
    "ann_ivf_batch",  # fused 16-query batch ANN join over the IVF index (r5)
    "line_dedup_corpus",  # span-level boilerplate line dedup (r6)
    "substring_dedup",  # Lee et al. exact substring dedup, windowed (r6)
    "quality_classifier_score",  # hashed-LR corpus scoring (build amortized, r7)
    "semantic_decontaminate",  # eval-broadcast max-cosine leak check (r7)
    "pii_redact",  # full-rule-table privacy scrub, map-only codegen (r8)
    "bm25_topk",  # lexical retrieval: broadcast terms + one window (r8)
    "dsir_select",  # DSIR importance resampling, Gumbel top-k (r8)
    "curation_pipeline_funnel",  # composed pii->quality->dedup->decon->dsir recipe (r9)
    "gopher_quality_rules",  # rule-table quality census, map-only codegen (r9)
    "temperature_mixture",  # p^alpha mixture reweighting + hash-threshold sample (r9)
    "bpe_merges",  # BPE tokenizer training: 1 corpus pass + O(vocab) merge rounds (r9)
    "bm25_phrase_topk",  # exact phrase retrieval via n-gram BM25, broadcast-first (r9)
    "bm25_indexed_probe",  # manifest-resolved posting-index probe (build amortized at first run, r11)
    "hybrid_rrf_topk",  # BM25 + IVF-ANN reciprocal-rank fusion (r11)
    "canonical_keep_best",  # quality-aware keeper per near-dup cluster (r11, benched r13)
    "retrieval_quality_bm25",  # recall/MRR/nDCG evaluation aggregates (r13)
    "image_near_dup_pairs",  # perceptual-hash hamming banding, multimodal near-dup (r13)
    "video_near_dup_pairs",  # frame-sampled majority signature, video near-dup (r14)
    "ann_text_embed_topk",  # deterministic text encoder, cosine top-k (r14)
    "retrieval_quality_hybrid_textemb",  # text-embed hybrid fusion metrics (r14)
    "ann_text_embed_ivf",  # encoder served through the persisted IVF probe (r15)
    "ann_text_embed_ivf_batch",  # batched text-IVF probe, one vocab broadcast (r16)
    "ann_ivfpq_batch",  # batched compressed-index probe, relational ADC (r16)
    "ann_ivfpq_stream_drift",  # streaming PQ maintenance drift log (r17)
]
# bm25_stream_indexed_probe / ann_ivf_stream_indexed left the headline
# set in r14 (VERDICT r13 #3): their fns rebuild + replay the index
# EVERY rep by design (a lifecycle test), which overstated steady-state
# probe cost ~6x in the headline total. stream_index_bench() below
# ingests ONCE per family (recording throughput) and times the probe
# alone per rep — the separation a standing index actually exhibits.

# The streaming engine's own replays (VERDICT r2 #4/#5) are timed in
# their OWN interleaved loop AFTER every batch round completes: a replay
# leaves state-store maintenance threads + memory-sink heap behind that
# tax whichever query runs next by ~40% (measured r4 — grouped_stats_approx
# benched 5.4s mid-suite vs 0.8s standalone), so streaming must never
# precede a batch timing.
STREAMING_HEADLINE = [
    "streaming_hourly",
    "transition_stream_replay",
]


def maintenance_bench(spark, sf_dir: str) -> dict:
    """Write-side operators (VERDICT r3 #6): the 100 TB cost center is the
    refresh path the reference's full-reload (MY.ipynb:513-527) couldn't
    pay. Measures, on the day-partitioned events rollup: full rebuild vs
    one-changed-day incremental refresh (the headline ratio), plus
    partition-granular upsert, key purge, and an SCD2 change-batch merge."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from loan_approval_prediction_data_engineering_ml_pipeline_spark.operators.maintenance import (
        incremental_rollup,
        scd2_merge,
    )
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.loaders import (
        delete_keys_partitioned,
        load_table,
        upsert_parquet_partitioned,
    )

    out: dict = {}
    work = tempfile.mkdtemp(prefix="maint_bench_")
    try:
        fact = load_table(spark, sf_dir, "events").withColumn(
            "dt", F.date_format("ts", "yyyy-MM-dd")
        )

        def agg(df):
            return df.groupBy("dt", "event_type").agg(
                F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total")
            )

        store = f"{work}/rollup"
        t0 = time.perf_counter()
        n_full = incremental_rollup(spark, fact, store, "dt", agg)
        out["rollup_full_build_sec"] = round(time.perf_counter() - t0, 4)
        out["n_partitions"] = n_full
        hot_day = fact.agg(F.max("dt")).first()[0]
        changed = fact.withColumn(
            "value",
            F.when(F.col("dt") == hot_day, F.col("value") * 2).otherwise(F.col("value")),
        )
        t0 = time.perf_counter()
        n_inc = incremental_rollup(spark, changed, store, "dt", agg)
        out["rollup_refresh_1day_sec"] = round(time.perf_counter() - t0, 4)
        out["rollup_refresh_partitions_rewritten"] = n_inc
        t0 = time.perf_counter()
        incremental_rollup(spark, changed, f"{work}/rollup_rebuild", "dt", agg)
        out["rollup_rebuild_from_scratch_sec"] = round(time.perf_counter() - t0, 4)

        # partition-granular upsert + purge of one hot day
        ev_store = f"{work}/events_by_day"
        fact.write.partitionBy("dt").parquet(ev_store)
        batch = fact.where(F.col("dt") == hot_day).withColumn(
            "value", F.col("value") + 1
        )
        t0 = time.perf_counter()
        upsert_parquet_partitioned(batch, ev_store, ["event_id"], "dt")
        out["upsert_1day_sec"] = round(time.perf_counter() - t0, 4)
        purge = fact.where(F.col("dt") == hot_day).select("event_id").limit(1000)
        t0 = time.perf_counter()
        delete_keys_partitioned(spark, ev_store, purge, ["event_id"], "dt")
        out["delete_keys_1day_sec"] = round(time.perf_counter() - t0, 4)

        # SCD2: customer dim, then a 1% change batch
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment", "c_acctbal", F.lit("2024-01-01").alias("eff_ts")
        )
        dim = f"{work}/dim_customer"
        scd2_merge(spark, dim, cust, ["c_custkey"], ["c_mktsegment", "c_acctbal"])
        changes = (
            cust.where(F.col("c_custkey") % 100 == 0)
            .withColumn("c_acctbal", F.col("c_acctbal") + 10)
            .withColumn("eff_ts", F.lit("2024-02-01"))
        )
        t0 = time.perf_counter()
        scd2_merge(spark, dim, changes, ["c_custkey"], ["c_mktsegment", "c_acctbal"])
        out["scd2_merge_1pct_sec"] = round(time.perf_counter() - t0, 4)

        # z-order layout: write cost + the payoff (a conjunctive range
        # filter on BOTH clustered dims — row-group stats skip most of
        # the z-ordered file, none of the shuffled one)
        from loan_approval_prediction_data_engineering_ml_pipeline_spark.operators.maintenance import (
            zorder_write,
        )

        base = fact.select("event_id", "user_id", "value")
        shuf, zord = f"{work}/ev_shuffled", f"{work}/ev_zorder"
        base.repartition(32).write.parquet(shuf)
        t0 = time.perf_counter()
        zorder_write(base, zord, ["user_id", "value"], n_files=32)
        out["zorder_write_sec"] = round(time.perf_counter() - t0, 4)
        (lo_u,), (lo_v,) = base.stat.approxQuantile(
            ["user_id", "value"], [0.05], 0.001
        )

        # deterministic payoff metric: fraction of row groups whose
        # min/max stats EXCLUDE the predicate (what the reader skips).
        # At sf0.1 file scans are ~30k rows so wall time is all job
        # overhead; the prune ratio is the number that holds at 100 TB.
        def prunable_pct(path):
            import glob as _glob

            import pyarrow.parquet as pq

            total = pruned = 0
            for f in _glob.glob(f"{path}/*.parquet"):
                md = pq.ParquetFile(f).metadata
                if md.num_row_groups == 0:
                    continue
                idx = {
                    md.row_group(0).column(i).path_in_schema: i
                    for i in range(md.row_group(0).num_columns)
                }
                for rg in range(md.num_row_groups):
                    total += 1
                    st_u = md.row_group(rg).column(idx["user_id"]).statistics
                    st_v = md.row_group(rg).column(idx["value"]).statistics
                    if (st_u and float(st_u.min) > lo_u) or (
                        st_v and float(st_v.min) > lo_v
                    ):
                        pruned += 1
            return round(100.0 * pruned / max(1, total), 1)

        out["rowgroups_prunable_shuffled_pct"] = prunable_pct(shuf)
        out["rowgroups_prunable_zorder_pct"] = prunable_pct(zord)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


def stream_index_bench(spark, sf_dir: str, iters: int) -> tuple[dict, dict]:
    """Steady-state stream-index measurement (VERDICT r13 #3): ingest
    the 3-micro-batch feed into each stream-maintained index ONCE
    (recording build wall time + single-node throughput), then time the
    MANIFEST-RESOLVED PROBE alone ``iters`` times against the standing
    index. Returns (one-shot ingest detail, per-rep probe samples) —
    the probe samples join the headline medians as *_probe_only rows,
    so the recorded latency is what a standing index actually serves,
    not a rebuild-per-query artifact."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from loan_approval_prediction_data_engineering_ml_pipeline_spark.operators import (
        retrieval as R,
    )
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.operators import (
        similarity as S,
    )
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.plans.llm_data import (
        _BM25_QUERIES,
        _ensure_ivf8,
        _query_vec,
    )
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.loaders import (
        load_table,
    )
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.streaming import (
        stream_bm25_index_ingest,
        stream_ivf_index_ingest,
    )

    out: dict = {}
    samples: dict[str, list[float]] = {
        "bm25_stream_probe_only": [],
        "ann_ivf_stream_probe_only": [],
    }
    work = tempfile.mkdtemp(prefix="stream_idx_bench_")
    try:
        # --- BM25 posting index: ingest once ---
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        n_docs = docs.count()
        for n in range(3):
            docs.where(F.pmod(F.col("doc_id"), F.lit(3)) == n).coalesce(1).write.parquet(
                f"{work}/bm25_feed/b{n}"
            )
        bidx = f"{work}/bm25_idx"
        t0 = time.perf_counter()
        stream_bm25_index_ingest(
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{work}/bm25_feed/*"),
            bidx,
            n_buckets=8,
            n_files=4,
            checkpoint=f"{work}/bm25_ckpt",
        )
        dt = time.perf_counter() - t0
        out["bm25_stream_ingest_once_sec"] = round(dt, 4)
        out["bm25_stream_ingest_docs_per_sec"] = round(n_docs / dt, 1)
        qdf = spark.createDataFrame(_BM25_QUERIES, "query_id string, term string")
        for _ in range(iters):
            t0 = time.perf_counter()
            R.bm25_topk_indexed(spark, bidx, qdf, k=10).orderBy(
                "query_id", "rank"
            ).write.format("noop").mode("overwrite").save()
            samples["bm25_stream_probe_only"].append(time.perf_counter() - t0)

        # --- streaming IVF index: ingest once ---
        seed_idx = _ensure_ivf8(spark, sf_dir)
        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        n_vecs = emb.count()
        for n in range(3):
            emb.where(F.pmod(F.col("vec_id"), F.lit(3)) == n).coalesce(1).write.parquet(
                f"{work}/ivf_feed/b{n}"
            )
        vidx = f"{work}/ivf_idx"
        t0 = time.perf_counter()
        stream_ivf_index_ingest(
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{work}/ivf_feed/*"),
            vidx,
            seed_centroids=os.path.join(
                seed_idx, S._ivf_snapshot(seed_idx)["centroids"]
            ),
            checkpoint=f"{work}/ivf_ckpt",
        )
        dt = time.perf_counter() - t0
        out["ann_ivf_stream_ingest_once_sec"] = round(dt, 4)
        out["ann_ivf_stream_ingest_vecs_per_sec"] = round(n_vecs / dt, 1)
        pv = _query_vec(spark, sf_dir, 0)
        for _ in range(iters):
            t0 = time.perf_counter()
            S.ivf_query(
                spark, vidx, pv, k=10, n_probe=3, exclude_id=0, include_cell=True
            ).write.format("noop").mode("overwrite").save()
            samples["ann_ivf_stream_probe_only"].append(time.perf_counter() - t0)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out, samples


def calibrate(spark) -> float:
    """Fixed-work calibration probe (VERDICT r4 #1): a constant 640M-row
    codegen'd range-sum — no I/O, no shuffle variance, no sf dependence —
    whose wall time moves ONLY with host conditions (CPU contention, GC,
    the documented multi-minute host slow-phases). Interleaved once per
    suite round so noisy rounds are identifiable from the artifact
    itself instead of from session memory."""
    t0 = time.perf_counter()
    spark.range(0, 640_000_000, 1, 32).selectExpr("sum(id) AS s").write.format(
        "noop"
    ).mode("overwrite").save()
    return time.perf_counter() - t0


def ingest_dedup_bench(spark, sf_dir: str) -> dict:
    """Bloom-prefiltered vs plain incremental ingest dedup (VERDICT r4
    #7) in the regime the Bloom path exists for: a mostly-novel batch
    (90% unseen docs, salted copies) probed against the full corpus
    fingerprint index. Reports wall seconds for each operator on the
    identical batch; the crossover story lives in SCALE.md."""
    from pyspark.sql import functions as F

    from loan_approval_prediction_data_engineering_ml_pipeline_spark.functions import text as X
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.operators.dedup import (
        bloom_prefiltered_dedup,
        incremental_exact_dedup,
    )
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.loaders import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    idx = (
        docs.select(X.fingerprint_md5(F.col("text")).alias("fingerprint"))
        .localCheckpoint(eager=True)
    )
    n_corpus = idx.count()
    # 90% novel (salted text = new fingerprints), 10% true corpus dups
    novel = docs.sample(0.9, seed=7).select(
        "doc_id", F.concat(F.col("text"), F.lit(" __novel"), F.col("doc_id")).alias("text")
    )
    dups = docs.sample(0.1, seed=8).select("doc_id", "text")
    batch = novel.unionByName(dups).localCheckpoint(eager=True)
    out = {"batch_rows": batch.count(), "corpus_rows": n_corpus}
    for name, fn in [
        ("exact_sec", lambda: incremental_exact_dedup(batch, idx)),
        (
            "bloom_sec",
            lambda: bloom_prefiltered_dedup(batch, idx, expected_items=n_corpus),
        ),
    ]:
        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            reps.append(time.perf_counter() - t0)
        out[name] = round(statistics.median(reps), 4)
    return out


def versioned_bench(spark, sf_dir: str) -> dict:
    """Versioned-table commit path (r5): append-commit latency on a
    1-day events slice (data write + O(files) manifest rename — the
    cost that must NOT grow with table size), snapshot-read resolve
    cost, and O(1) rollback."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.loaders import load_table
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.versioned import (
        read_version,
        rollback,
        versioned_write,
    )

    events = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    days = [r[0] for r in events.select(day.alias("d")).distinct().orderBy("d").limit(3).collect()]
    tmp = tempfile.mkdtemp(prefix="bench_versioned_")
    out: dict = {}
    try:
        t = f"{tmp}/t"
        t0 = time.perf_counter()
        for d in days:
            versioned_write(events.where(day == F.lit(d)), t)
        out["append_commits_3days_sec"] = round(time.perf_counter() - t0, 4)
        t0 = time.perf_counter()
        out["snapshot_read_rows"] = read_version(spark, t).count()
        out["snapshot_read_sec"] = round(time.perf_counter() - t0, 4)
        # data skipping (r6): a last-day predicate prunes the file list
        # against the manifest's per-file ts min/max BEFORE planning —
        # vs the same predicate as a plain filter over the full snapshot
        import datetime as _dt

        from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.versioned import snapshot_files

        cutoff = _dt.datetime.combine(days[-1], _dt.time.min)
        pred = [("ts", ">=", cutoff)]
        out["skip_files_scanned"] = len(snapshot_files(t, where=pred))
        out["full_files"] = len(snapshot_files(t))
        t0 = time.perf_counter()
        out["skip_read_rows"] = read_version(spark, t, where=pred).count()
        out["skip_read_sec"] = round(time.perf_counter() - t0, 4)
        t0 = time.perf_counter()
        read_version(spark, t).where(F.col("ts") >= F.lit(cutoff)).count()
        out["noskip_read_sec"] = round(time.perf_counter() - t0, 4)
        t0 = time.perf_counter()
        rollback(t, 0)
        out["rollback_sec"] = round(time.perf_counter() - t0, 4)
        out["rollback_rows"] = read_version(spark, t).count()
        # deletion vectors vs copy-on-write (r7): mask ~1% of one day's
        # rows merge-on-read, then pay the same delete as a CoW merge on
        # a fresh twin — the DV commit writes kilobytes of mask where the
        # merge rewrites the touched files
        from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.versioned import (
            delete_where,
            merge_into,
            snapshot_deletes,
        )

        base = read_version(spark, t)
        sample_ids = [
            r["event_id"]
            for r in base.select("event_id").orderBy("event_id").limit(200).collect()
        ]
        lo, hi = sample_ids[0], sample_ids[-1]
        t0 = time.perf_counter()
        delete_where(spark, t, [("event_id", ">=", lo), ("event_id", "<=", hi)])
        out["dv_delete_sec"] = round(time.perf_counter() - t0, 4)
        dv_dir = next(iter(snapshot_deletes(t).values()))
        out["dv_bytes"] = sum(
            os.path.getsize(os.path.join(dv_dir, f))
            for f in os.listdir(dv_dir)
            if f.endswith(".parquet")
        )
        t0 = time.perf_counter()
        out["dv_masked_read_rows"] = read_version(spark, t).count()
        out["dv_masked_read_sec"] = round(time.perf_counter() - t0, 4)
        t2 = f"{tmp}/t2"
        versioned_write(read_version(spark, t, 0), t2)
        keys = (
            read_version(spark, t2)
            .where((F.col("event_id") >= lo) & (F.col("event_id") <= hi))
            .select("event_id")
        )
        t0 = time.perf_counter()
        merge_into(spark, t2, keys, ["event_id"], when_matched="delete")
        out["cow_delete_sec"] = round(time.perf_counter() - t0, 4)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    spark = get_spark(app_name="bench")

    names = [n for n in HEADLINE if n in QUERIES]
    # untimed warm-up: JVM classloading + codegen compile, plus the
    # Python UDF worker pool (reused daemons on a real cluster — the
    # first applyInPandas otherwise pays ~1s/worker fork-and-connect)
    QUERIES[names[0]].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    from pyspark.sql import functions as F  # local import: bench-only

    (
        spark.range(256)
        .withColumn("g", F.col("id") % 32)
        .groupBy("g")
        .applyInPandas(lambda p: p, "g long, id long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )

    calibrate(spark)  # untimed: compile the probe itself

    # warm-fixture pass (VERDICT r15 #6): one untimed sweep of the full
    # headline set BEFORE round 0 fires every _ensure_* staleness check
    # and first-run index build, so one-time fixture construction can
    # never land inside a timed round — BENCH_DETAIL's early rounds kept
    # flagging as internal drift whose real cause was first-run builds.
    for name in names:
        QUERIES[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    iters = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "5")))
    samples: dict[str, list[float]] = {n: [] for n in names}
    round_cal: list[float] = []
    # interleave rounds (run the whole suite iters times) so one query's
    # JVM-warming effect doesn't systematically favor its own later reps;
    # 5 rounds (up from 3) because a single GC/compilation stall window
    # late in the 38-query suite can cover 2 of 3 reps of one query and
    # poison its median (observed ~2x spikes on dedup_minhash_lsh)
    for _ in range(iters):
        pre = calibrate(spark)
        for name in names:
            t0 = time.perf_counter()
            QUERIES[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples[name].append(time.perf_counter() - t0)
        # pre AND post probes: a host slow-phase starting mid-round still
        # shows in the round's flag
        round_cal.append(max(pre, calibrate(spark)))
        # settle the JVM between rounds so one round's garbage doesn't
        # stall the next round's first queries
        spark._jvm.System.gc()

    # a round is NOISY when its worst calibration reads ≥2.5× the
    # fastest round's AND ≥100 ms above it (absolute floor so two fast
    # jittery readings can't flag each other). Noisy rounds are dropped
    # from the per-query medians when ≥2 clean rounds remain — the
    # artifact then records both the verdict and the evidence.
    cal_min = min(round_cal)
    noisy = [
        i
        for i, c in enumerate(round_cal)
        if c >= 2.5 * cal_min and c - cal_min >= 0.1
    ]
    clean = [i for i in range(iters) if i not in noisy]
    use = clean if len(clean) >= 2 else list(range(iters))
    samples = {n: [s[i] for i in use] for n, s in samples.items()}
    calibration = {
        "per_round_sec": [round(c, 4) for c in round_cal],
        "noisy_rounds": noisy,
        "rounds_used": len(use),
    }
    # Drift attribution (VERDICT r8 #3): the ~0.28s calibration probe is
    # too small to catch a host slow-phase that scales with query cost —
    # r8 drifted ~1.19x uniformly on untouched code while every probe
    # read clean. So flag at the level the drift actually shows: whole
    # suite-round totals, any round >20% over the session-best round.
    round_totals = [
        sum(samples[n][i] for n in names) for i in range(len(use))
    ]
    best_total = min(round_totals)
    # indices reported in ORIGINAL round numbers (use[i]), so they line
    # up with noisy_rounds and per_round_sec — a drift round can't be
    # misattributed when noisy rounds were dropped (ADVICE r9)
    drift_rounds = [
        use[i] for i, t in enumerate(round_totals) if t > 1.2 * best_total
    ]
    calibration["round_totals_sec"] = [round(t, 3) for t in round_totals]
    calibration["rounds_used_idx"] = list(use)
    calibration["rounds_over_20pct_of_best"] = drift_rounds

    # maintenance timings BEFORE any streaming replay — a finished
    # replay's state-store threads/sink heap tax subsequent timings
    # ~40% (the same reason STREAMING_HEADLINE runs last)
    maintenance = maintenance_bench(spark, sf_dir)

    ingest_dedup = ingest_dedup_bench(spark, sf_dir)

    versioned = versioned_bench(spark, sf_dir)

    # stream-maintained indexes: ingest once, probe per rep (VERDICT
    # r13 #3) — probe medians join the headline table as *_probe_only
    # rows; ingest cost + throughput land in the stream_index block.
    # foreachBatch availableNow replays are stateless (no state-store
    # threads), but still run after the batch headline timings.
    stream_index, si_samples = stream_index_bench(spark, sf_dir, iters)
    samples.update(si_samples)

    # streaming replays last (see STREAMING_HEADLINE note), with their
    # own per-round calibration guard
    stream_names = [n for n in STREAMING_HEADLINE if n in QUERIES]
    stream_samples: dict[str, list[float]] = {n: [] for n in stream_names}
    stream_cal: list[float] = []
    for _ in range(iters):
        pre = calibrate(spark)
        for name in stream_names:
            t0 = time.perf_counter()
            QUERIES[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            stream_samples[name].append(time.perf_counter() - t0)
        stream_cal.append(max(pre, calibrate(spark)))
        spark._jvm.System.gc()
    s_min = min(stream_cal)
    s_noisy = [
        i for i, c in enumerate(stream_cal) if c >= 2.5 * s_min and c - s_min >= 0.1
    ]
    s_clean = [i for i in range(iters) if i not in s_noisy]
    s_use = s_clean if len(s_clean) >= 2 else list(range(iters))
    samples.update({n: [s[i] for i in s_use] for n, s in stream_samples.items()})
    calibration["streaming_per_round_sec"] = [round(c, 4) for c in stream_cal]
    calibration["streaming_noisy_rounds"] = s_noisy

    timings = {n: round(statistics.median(s), 4) for n, s in samples.items()}
    # min alongside median: the min is the host-noise-free floor — a
    # query whose min moved is a plan change; one whose median moved
    # but min held is scheduling/GC/host noise (VERDICT r8 #3)
    timings_min = {n: round(min(s), 4) for n, s in samples.items()}

    # one extra instrumented replay per streaming query: peak state-store
    # rows + micro-batch count (wall time is already in the timed rows).
    # transition_stream additionally runs a RATE-LIMITED ~10-batch replay
    # (VERDICT r3 #7) so steady-state per-batch latency is recorded, not
    # just the one-giant-batch availableNow cost.
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.streaming.events import (  # noqa: E402
        read_events_stream,
        replay_events_multibatch,
        run_stream_to_table,
        transition_stream,
        windowed_counts,
    )

    streaming_state = {}
    for name, build, mode in [
        ("streaming_hourly", windowed_counts, "complete"),
        ("transition_stream_replay", transition_stream, "append"),
    ]:
        streaming_state[name] = run_stream_to_table(
            build(read_events_stream(spark, sf_dir)), f"__state_probe_{name}", output_mode=mode
        )
    mb = replay_events_multibatch(spark, sf_dir, transition_stream, n_batches=10)
    inner = [b["trigger_ms"] for b in mb["batches"][1:-1]] or [0]
    streaming_state["transition_stream_multibatch"] = {
        "n_batches": mb["n_batches"],
        "peak_state_rows": mb["peak_state_rows"],
        "steady_batch_ms_median": statistics.median(inner),
        "batch_trigger_ms": [b["trigger_ms"] for b in mb["batches"]],
    }
    # same replay on the RocksDB state store (VERDICT r4 #8): the
    # provider production deployments use for large state — steady-state
    # batch latency recorded side by side with the default HDFS-backed
    # store so the state-backend cost is measured, not assumed
    try:
        mb_r = replay_events_multibatch(
            spark,
            sf_dir,
            transition_stream,
            n_batches=10,
            state_store_provider="rocksdb",
        )
        inner_r = [b["trigger_ms"] for b in mb_r["batches"][1:-1]] or [0]
        streaming_state["transition_stream_multibatch_rocksdb"] = {
            "n_batches": mb_r["n_batches"],
            "peak_state_rows": mb_r["peak_state_rows"],
            "steady_batch_ms_median": statistics.median(inner_r),
            "batch_trigger_ms": [b["trigger_ms"] for b in mb_r["batches"]],
        }
    except Exception as exc:  # keep the bench artifact even if RocksDB is absent
        streaming_state["transition_stream_multibatch_rocksdb"] = {"error": str(exc)[:200]}

    # The driver captures only the LAST ~2000 chars of stdout and parses the
    # final JSON line; since r5 the full artifact (queries + calibration +
    # streaming/maintenance/versioned blocks) outgrew that window and the
    # recorded BENCH_r{N}.json had "parsed": null.  Keep the machine-readable
    # line compact (metric/value/queries only, 3-decimal timings) and write
    # the complete detail to BENCH_DETAIL.json alongside the repo root.
    # drift verdict vs the previous committed record: compare the
    # noise-free floors (sum of per-query mins) of the shared query set;
    # the medians total is reported too but the min-floor is what
    # separates "plan regression" from "host slow phase"
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    min_total = round(sum(timings_min.values()), 4)
    drift = {
        "min_total_sec": min_total,
        "internal_drift_rounds": calibration["rounds_over_20pct_of_best"],
    }
    try:
        with open(detail_path) as fh:
            prev = json.load(fh)
        if prev.get("sf") != sf:
            raise ValueError("prior record at different sf — not comparable")
        prev_min = prev.get("queries_min")
        # pre-r9 records lack queries_min; comparing current min-floors
        # against previous MEDIANS biases the verdict toward "clean" —
        # tag the baseline and withhold the verdict instead (ADVICE r9)
        prev_baseline = "min"
        if not prev_min:
            prev_min = prev.get("queries") or {}
            prev_baseline = "median"
        drift["prev_baseline"] = prev_baseline
        shared = [n for n in timings_min if n in prev_min]
        if shared:
            cur_s = sum(timings_min[n] for n in shared)
            prev_s = sum(prev_min[n] for n in shared)
            ratio = round(cur_s / prev_s, 3) if prev_s else None
            drift.update(
                {
                    "prev_shared_min_total_sec": round(prev_s, 3),
                    "cur_shared_min_total_sec": round(cur_s, 3),
                    "vs_prev_ratio": ratio,
                }
            )
            if ratio is not None and prev_baseline == "median":
                drift["verdict"] = (
                    "no-verdict: prior record lacks queries_min — current "
                    "min-floor vs previous MEDIAN is not a like-for-like "
                    "comparison (would bias toward clean)"
                )
            elif ratio is not None:
                if ratio <= 1.2:
                    drift["verdict"] = "clean"
                elif calibration["rounds_over_20pct_of_best"]:
                    drift["verdict"] = (
                        "host-slow-phase: internal rounds disagree >20% and "
                        "the floor moved vs prev — prefer the best round"
                    )
                else:
                    drift["verdict"] = (
                        "uniform >20% floor drift vs prev with internally "
                        "consistent rounds — host phase or plan regression; "
                        "re-run standalone before comparing records"
                    )
    except (OSError, ValueError):
        drift["verdict"] = "no-prior-record"

    detail = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "queries_min": timings_min,
        "drift": drift,
        "sf": sf,
        "iters": iters,
        "calibration": calibration,
        "streaming_state": streaming_state,
        "maintenance": maintenance,
        "ingest_dedup": ingest_dedup,
        "versioned": versioned,
        "stream_index": stream_index,
    }
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1)
    compact = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        # per-query MIN floors are only in BENCH_DETAIL.json: with them the
        # line outgrew the ~2000 chars of output that get recorded
        "queries": {n: round(t, 3) for n, t in timings.items()},
        "sf": sf,
        "min_total": round(min_total, 3),
        "drift": {
            k: drift[k]
            for k in ("vs_prev_ratio", "verdict", "internal_drift_rounds")
            if k in drift
        },
    }
    line = json.dumps(compact, separators=(",", ":"))
    # Only the final ~2000 chars of output are recorded, so the line must
    # fit whole: coarsen the per-query timings, then drop the drift
    # verdict prose, then the per-query block, until it is under 1900.
    shrink = [
        lambda c: c.update(queries={n: round(t, 2) for n, t in timings.items()}),
        lambda c: c["drift"].pop("verdict", None),
        lambda c: c.pop("queries"),
    ]
    while len(line) >= 1900 and shrink:
        shrink.pop(0)(compact)
        line = json.dumps(compact, separators=(",", ":"))
    # The line must be the LAST bytes this process writes: the driver keeps
    # only the final ~2000 chars of output, and the official r7 record was
    # eaten by RocksDB state-store teardown stderr (MANIFEST-verification
    # spew when the multibatch replay's temp checkpoints were reclaimed)
    # landing AFTER the JSON. Stop every stream and the whole session first
    # so that teardown noise happens NOW, let the JVM's stderr drain, then
    # print flushed.
    for active in spark.streams.active:
        try:
            active.stop()
        except Exception:
            pass
    try:
        spark.stop()
    except Exception:
        pass
    time.sleep(3.0)
    sys.stdout.flush()
    sys.stderr.flush()
    print(line, flush=True)


if __name__ == "__main__":
    main()
