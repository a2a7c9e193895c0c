"""The benchmark's workloads.

Each workload runs in three phases on one SparkSession, with one
closed-loop client (the next call is sent when the previous returns):

1. **prep** — what must happen before the first timed operation: the
   loan workload's ETL, fit, persist and reload of the model it serves,
   the query mix's first (cold) pass, plus a few untimed warm-up calls.
   Timed as a whole and counted in ``setup_s``; its JVM class loading and
   code generation never land in a timed operation;
2. **interactive** — the workload's operations in a closed loop for
   ``--seconds``, warm; every sample is kept per operation kind;
3. **checks** — untimed comparisons of every output against an
   independent answer; a wrong answer counts as a failed operation.

``loan_pipeline`` is the reference's dataflow: NDJSON ETL with a change
batch → train → persist → reload → batch score, then single-row scoring.
``query_mix`` runs registry queries (relational/analytics and LLM-corpus
operators) against seed-generated sf0.1 tables and persisted indexes.
"""

from __future__ import annotations

import contextlib
import math
import os
import random
from dataclasses import dataclass, field
from types import SimpleNamespace

import datagen
from probe import Counts, Probe

LOAN_CHANGE_SHARE = 0.05
LOAN_MAX_ITER = 10
SERVE_POOL = 4096
# requests served after the model is reloaded and before timing starts:
# the first few after the batch job run ~1.5x slower while the JIT settles
LOAN_WARMUP_REQUESTS = 6
# A warm request takes about this long, and a warm pass over QUERY_MIX
# about QUERY_PASS_S (2 Spark cores, 4-core host). The interactive phase
# runs the number of requests or whole passes that takes --seconds at that
# pace: a fixed count gives every run the same warm-up curve and the same
# samples however fast the host is that minute, where a time window would
# make a slow minute also measure an earlier, slower stretch of JIT warm-up.
LOAN_REQUEST_S = 0.55
QUERY_PASS_S = 6.5

# Relational/analytics queries (scan, join, window, as-of) and LLM-corpus
# operators (exact dedup, LSH components, brute-force and IVF ANN) — every
# one has a DuckDB oracle. The mix is kept to nine so that a warm pass
# takes ~6 s and a run (cold pass, warm-up pass, timed passes) fits the
# evaluation's time budget: left out are
# queries whose warm execute exceeds ~1 s at sf0.1 (multi_star_join,
# tfidf_top_terms, grouped_stats, null_audit, bm25_*, hybrid_rrf_topk,
# curate_corpus), ann_ivfpq_batch (about a minute of one-time index build),
# and queries whose paths the kept ones already cover (pricing_summary,
# correlated_subquery, pii_scrub, sessionization, dedup_minhash_near).
ANALYTICS_QUERIES = [
    "star_join_agg", "window_rank", "asof_join", "rollup_revenue", "semi_anti_join",
]
CORPUS_QUERIES = ["dedup_exact", "near_dup_components", "ann_cosine_topk", "ann_ivf"]
QUERY_MIX = ANALYTICS_QUERIES + CORPUS_QUERIES
# the corpus is generated from a fixed seed so its persisted indexes are
# built once per checkout; the star tables and the query order follow --seed
CORPUS_SEED = 20240101

# The loan store is sized so ETL moves over sixty thousand rows per run
# while one run still fits the time budget: the cold ETL, fit and persist
# take ~32 s at 20,000 rows a table and ~39 s at 50,000, so per-call and
# per-job overhead, not rows, dominates. "tiny" is for the self-tests.
_SCALES = {
    "sf0.1": {"sf": 0.1, "sf_tag": "sf0.1", "loan_rows": 20_000},
    "tiny": {"sf": 0.001, "sf_tag": "sf0.001", "loan_rows": 3_000},
}


def scale(name: str) -> dict:
    return _SCALES[name]


@dataclass
class Ctx:
    spark: object
    probe: Probe
    seed: int
    seconds: float
    run_dir: str
    scale: str = "sf0.1"
    inject_wrong: bool = False
    # filled by the workload
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    prep_s: float = 0.0
    # timed samples per operation kind (one kind per query; one for scoring)
    op_s: dict[str, list[float]] = field(default_factory=dict)
    op_build_s: dict[str, list[float]] = field(default_factory=dict)
    op_exec_s: dict[str, list[float]] = field(default_factory=dict)
    op_counts: list[Counts] = field(default_factory=list)
    prep_build_s: float = 0.0
    prep_exec_s: float = 0.0
    prep_counts: Counts = field(default_factory=Counts)
    layer: dict[str, float] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    @contextlib.contextmanager
    def prep_call(self, kind: str, name: str, layer: str | None = None):
        """A timed call inside the prep phase; ``kind`` is build or exec.
        ``layer`` names a per-layer time the call adds to."""
        with self.probe.call(name) as res:
            yield res
        if kind == "build":
            self.prep_build_s += res["seconds"]
        else:
            self.prep_exec_s += res["seconds"]
        if layer is not None:
            self.layer[layer] = self.layer.get(layer, 0.0) + res["seconds"]
        if "counts" in res:
            self.prep_counts += res["counts"]


# ---------------------------------------------------------------------------
# loan_pipeline
# ---------------------------------------------------------------------------


def loan_prepare(seed: int, run_dir: str, scale_name: str) -> dict:
    """Write the run's loan NDJSON and draw its serving requests."""
    facts = datagen.write_loan_batch_inputs(seed, scale(scale_name)["loan_rows"],
                                            LOAN_CHANGE_SHARE, os.path.join(run_dir, "loan_in"))
    facts["requests"] = datagen.serve_requests(seed, SERVE_POOL)
    return facts


def request_frame(spark, rows: list[dict]):
    """Many applicant rows as one frame, shaped exactly as
    ``ml.scoring.score_single_row`` shapes one: every applicant/financial
    column plus Property_Area, numbers as double, derived Dependents_num
    and Total_Income."""
    from pyspark.sql import functions as F

    from loan_approval_prediction_data_engineering_ml_pipeline_spark.functions.cleaning import (
        clean_dependents,
    )
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.schemas import (
        LOAN_NUMERIC_COLS,
        LOAN_SCHEMAS,
    )

    cols = [f.name for f in LOAN_SCHEMAS["applicant_info"].fields if f.name != "Loan_ID"]
    cols += [f.name for f in LOAN_SCHEMAS["financial_info"].fields if f.name != "Loan_ID"]
    cols.append("Property_Area")
    data = [
        tuple(
            (float(r[c]) if r.get(c) is not None else None) if c in LOAN_NUMERIC_COLS else r.get(c)
            for c in cols
        )
        for r in rows
    ]
    schema = ", ".join(f"{c} double" if c in LOAN_NUMERIC_COLS else f"{c} string" for c in cols)
    return (
        spark.createDataFrame(data, schema=schema)
        .withColumn("Dependents_num", clean_dependents("Dependents").cast("double"))
        .withColumn("Total_Income", F.col("ApplicantIncome") + F.col("CoapplicantIncome"))
    )


def _parquet_files(path: str) -> dict[str, float]:
    return {
        f: os.path.getmtime(os.path.join(path, f))
        for f in os.listdir(path) if f.endswith(".parquet")
    }


def _rows_in(path: str, files) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows for f in files)


def loan_pipeline(ctx: Ctx, facts: dict) -> None:
    from pyspark.ml import PipelineModel
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import vector_to_array

    from loan_approval_prediction_data_engineering_ml_pipeline_spark.ml.pipeline import (
        build_pipeline,
        prepare_loan_frame,
    )
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.ml.scoring import (
        score_single_row,
    )
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.loaders import (
        read_jsonlines,
        upsert_parquet,
    )
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.schemas import (
        LOAN_SCHEMAS,
    )

    spark, probe = ctx.spark, ctx.probe
    src = os.path.join(ctx.run_dir, "loan_in")
    store = os.path.join(ctx.run_dir, "loan_store")
    model_dir = os.path.join(ctx.run_dir, "loan_model")
    scored_dir = os.path.join(ctx.run_dir, "loan_scored")
    tables = list(LOAN_SCHEMAS)

    # --- prep: ETL -> train -> persist -> reload -> batch score, warm-up --
    rewritten = 0
    upsert_counts = Counts()
    requests = facts["requests"]
    answers: list[tuple[int, dict]] = []

    def serve(i: int) -> dict | None:
        """One request; returns the timed call's result, None on failure."""
        row = requests[i % len(requests)]
        ctx.attempted += 1
        try:
            with probe.call("ml.score_single_row", request=i) as res:
                out = score_single_row(spark, model, dict(row))
        except Exception as exc:  # one failed request must not end the run
            ctx.fail(f"score_single_row #{i}: {exc!r}"[:300])
            return None
        answers.append((i, out))
        return res

    with probe.call("prep") as prep:
        for part in ("initial", "change"):
            layer = "sources.load_s" if part == "initial" else "sources.upsert_s"
            for t in tables:
                ctx.attempted += 1
                path = os.path.join(store, t)
                before = _parquet_files(path) if os.path.isdir(path) else {}
                with ctx.prep_call("build", f"sources.read_jsonlines.{part}.{t}", layer):
                    df = read_jsonlines(spark, os.path.join(src, part, f"{t}.json"), LOAN_SCHEMAS[t])
                with ctx.prep_call("exec", f"sources.upsert_parquet.{part}.{t}", layer) as res:
                    upsert_parquet(df, path, ["Loan_ID"])
                if "counts" in res:
                    upsert_counts += res["counts"]
                if part == "change":
                    after = _parquet_files(path)
                    rewritten += _rows_in(path, [f for f, m in after.items() if before.get(f) != m])
        ctx.attempted += 1
        with ctx.prep_call("build", "ml.prepare_loan_frame", "ml.fit_s"):
            stored = {t: spark.read.parquet(os.path.join(store, t)) for t in tables}
            frame = prepare_loan_frame(stored["applicant_info"], stored["financial_info"],
                                       stored["loan_info"])
            pipe = build_pipeline(LogisticRegression(maxIter=LOAN_MAX_ITER, labelCol="label",
                                                     featuresCol="features"))
        with ctx.prep_call("exec", "ml.fit", "ml.fit_s") as fit:
            model = pipe.fit(frame)
        ctx.attempted += 1
        with ctx.prep_call("exec", "ml.save", "ml.save_s"):
            model.write().overwrite().save(model_dir)
        with ctx.prep_call("exec", "ml.model_load", "ml.model_load_s"):
            model = PipelineModel.load(model_dir)
        ctx.attempted += 1
        with ctx.prep_call("build", "ml.transform", "ml.transform_s"):
            scored = model.transform(frame).select(
                "prediction", vector_to_array("probability")[1].alias("p_approve"))
        with ctx.prep_call("exec", "ml.write_scored", "ml.transform_s"):
            scored.write.mode("overwrite").parquet(scored_dir)
        for i in range(LOAN_WARMUP_REQUESTS):
            serve(i)
    ctx.prep_s = prep["seconds"]

    # --- interactive: closed-loop single-row scoring ----------------------
    samples = ctx.op_s.setdefault("score_single_row", [])
    for i in range(LOAN_WARMUP_REQUESTS,
                   LOAN_WARMUP_REQUESTS + max(1, round(ctx.seconds / LOAN_REQUEST_S))):
        res = serve(i)
        if res is not None:
            samples.append(res["seconds"])
            if "counts" in res:
                ctx.op_counts.append(res["counts"])
        if probe.trace:
            # split the same request at the plan-build / execute boundary
            with probe.call("ml.transform.plan", request=i) as b:
                plan = model.transform(request_frame(spark, [requests[i % len(requests)]])).select(
                    "prediction", vector_to_array("probability")[1].alias("p_approve"))
            with probe.call("ml.transform.collect", request=i) as e:
                plan.collect()
            ctx.op_build_s.setdefault("score_single_row", []).append(b["seconds"])
            ctx.op_exec_s.setdefault("score_single_row", []).append(e["seconds"])

    # --- checks (untimed) --------------------------------------------------
    import duckdb

    if ctx.inject_wrong and answers:
        answers[0] = (answers[0][0], {**answers[0][1], "p_approve": answers[0][1]["p_approve"] + 0.5})

    con = duckdb.connect()
    for t in tables:
        n = con.sql(f"SELECT count(*) FROM '{store}/{t}/*.parquet'").fetchone()[0]
        if n != facts["final_rows"]:
            ctx.fail(f"store {t}: {n} rows, expected {facts['final_rows']}")
    winners = facts["winners"]
    con.register("winners", winners)
    bad = con.sql(
        f"SELECT count(*) FROM winners w "
        f"LEFT JOIN '{store}/financial_info/*.parquet' f USING (Loan_ID) "
        f"LEFT JOIN '{store}/loan_info/*.parquet' l USING (Loan_ID) "
        f"WHERE f.ApplicantIncome IS DISTINCT FROM w.ApplicantIncome "
        f"OR l.Loan_Status IS DISTINCT FROM w.Loan_Status"
    ).fetchone()[0]
    if bad:
        ctx.fail(f"change batch: {bad} of {len(winners)} rows did not win the upsert")
    n_scored = con.sql(f"SELECT count(*) FROM '{scored_dir}/*.parquet'").fetchone()[0]
    if n_scored != facts["final_rows"]:
        ctx.fail(f"batch score: {n_scored} rows for {facts['final_rows']} inputs")
    if answers:
        ref = (
            model.transform(request_frame(spark, [requests[i % len(requests)] for i, _ in answers]))
            .select("prediction", vector_to_array("probability")[1].alias("p_approve"))
            .collect()
        )
        for (i, got), want in zip(answers, ref):
            if got["prediction"] != int(want["prediction"]) or not math.isclose(
                got["p_approve"], want["p_approve"], rel_tol=0.0, abs_tol=1e-9
            ):
                ctx.fail(f"request #{i}: single-row {got} != batch {dict(want.asDict())}")

    rows_changed = facts["n_change"]
    ctx.layer.update({
        "ml.fit_jobs": fit["counts"].jobs if "counts" in fit else 0,
        "ml.fit_tasks": fit["counts"].tasks if "counts" in fit else 0,
        "sources.upsert_jobs": upsert_counts.jobs,
        "sources.rewritten_per_changed_row": rewritten / (len(tables) * rows_changed),
        "sources.store_bytes_per_row": _store_bytes(store) / (len(tables) * facts["final_rows"]),
    })


def _store_bytes(store: str) -> int:
    total = 0
    for root, _, files in os.walk(store):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet"))
    return total


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------


def query_prepare(seed: int, run_dir: str, scale_name: str) -> str:
    """Write the run's tables; returns the data directory."""
    sc = scale(scale_name)
    data = os.path.join(run_dir, "data", sc["sf_tag"])
    datagen.write_star_tables(seed, data, sc["sf"])
    datagen.write_corpus_tables(CORPUS_SEED, data, sc["sf"])
    return data


def oracle_check(name: str, pdf, data_dir: str) -> str | None:
    """Compare one query's result with its DuckDB oracle twin, using the
    repository's own canonicalisation; returns a message on mismatch."""
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.plans.registry import QUERIES
    from tests.oracle_utils import assert_matches, duckdb_run

    # registered oracle SQL bakes persisted-index paths at the sf0.01 tag
    tag = os.path.basename(os.path.normpath(data_dir))
    sql = QUERIES[name].oracle.replace("/sf0.01/", f"/{tag}/")
    try:
        assert_matches(SimpleNamespace(toPandas=lambda: pdf), duckdb_run(sql, data_dir), name)
    except AssertionError as exc:
        return str(exc)[:300]
    return None


def query_mix(ctx: Ctx, data_dir: str) -> None:
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.plans.registry import QUERIES

    spark, probe = ctx.spark, ctx.probe
    rng = random.Random(ctx.seed)

    def run_pass(timed: bool) -> None:
        """Every query once, in a fresh seed-shuffled order, each
        materialised through the noop sink."""
        rng.shuffle(order)
        for q in order:
            ctx.attempted += 1
            try:
                with probe.call("query", request=ctx.attempted) as op:
                    with probe.call(f"plans.build.{q}") as b:
                        df = QUERIES[q].fn(spark, data_dir)
                    with probe.call(f"operators.exec.{q}") as e:
                        df.write.format("noop").mode("overwrite").save()
            except Exception as exc:
                ctx.fail(f"{q}: {exc!r}"[:300])
                continue
            if timed:
                ctx.op_s.setdefault(q, []).append(op["seconds"])
                ctx.op_build_s.setdefault(q, []).append(b["seconds"])
                ctx.op_exec_s.setdefault(q, []).append(e["seconds"])
                if "counts" in op:
                    ctx.op_counts.append(op["counts"])

    # --- prep: every query once, cold, results collected for the checks,
    # then one untimed warm pass: the first pass after the cold one still
    # runs up to 2x slower on some queries while code generation settles
    results = {}
    order = QUERY_MIX[:]
    rng.shuffle(order)
    with probe.call("prep") as prep:
        for q in order:
            ctx.attempted += 1
            try:
                with ctx.prep_call("build", f"plans.build.{q}"):
                    df = QUERIES[q].fn(spark, data_dir)
                with ctx.prep_call("exec", f"operators.collect.{q}"):
                    results[q] = df.toPandas()
            except Exception as exc:
                ctx.fail(f"{q}: {exc!r}"[:300])
        run_pass(timed=False)
    ctx.prep_s = prep["seconds"]

    # --- interactive: closed loop over whole seed-shuffled passes ---------
    for _ in range(max(1, round(ctx.seconds / QUERY_PASS_S))):
        run_pass(timed=True)

    # --- checks (untimed) --------------------------------------------------
    if ctx.inject_wrong:
        q = next(q for q, pdf in results.items() if len(pdf))
        results[q] = results[q].iloc[:-1]
    for q, pdf in results.items():
        msg = oracle_check(q, pdf, data_dir)
        if msg:
            ctx.fail(msg)
