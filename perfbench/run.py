"""Benchmark for the loan engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload loan_pipeline --seed 1 --seconds 16 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` records spans and per-call Spark counts,
reports the per-layer metrics and writes the spans to
``perfbench/.state/traces/<workload>-<seed>.json``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(HERE, ".state")
PACKAGE = "loan_approval_prediction_data_engineering_ml_pipeline_spark"
WORKLOADS = ("loan_pipeline", "query_mix")
SETUP_REPS = 3
# Spark gets half the cores: the other half keeps the JIT compiler, the
# garbage collector and the Python driver off the task threads' cores, which
# makes timings far less sensitive to what else the host runs. The 2 GiB
# heap, ample at sf0.1, is committed and touched at start so the memory
# high-water mark does not wander with garbage-collector timing.
SPARK_CORES = max(1, len(os.sched_getaffinity(0)) // 2)
DRIVER_MEMORY = "2g"
# per-layer metrics only the loan workload moves (0 on the query mix)
LOAN_LAYER = [
    ("sources.load_s", "s"), ("sources.upsert_s", "s"), ("sources.upsert_jobs", "count"),
    ("sources.rewritten_per_changed_row", "ratio"), ("sources.store_bytes_per_row", "B/row"),
    ("ml.fit_s", "s"), ("ml.fit_jobs", "count"), ("ml.fit_tasks", "count"), ("ml.save_s", "s"),
    ("ml.model_load_s", "s"), ("ml.transform_s", "s"),
]


def _process_age_s() -> float:
    """Seconds since this process started (from /proc, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _engine_env(run_dir: str, index_root: str) -> None:
    """Point every place the engine or Spark writes at bench-owned
    scratch: set before the engine or pyspark is imported."""
    os.environ["SPARK_GRAFT_INDEX_DIR"] = index_root
    os.environ["SPARK_GRAFT_FIXTURE_DIR"] = os.path.join(run_dir, "fixtures")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ.pop("SPARK_GRAFT_CPUS", None)


def _spark(run_dir: str):
    from loan_approval_prediction_data_engineering_ml_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        cpus=str(SPARK_CORES),
        driver_memory=DRIVER_MEMORY,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Dderby.system.home={run_dir} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it forked)
    to exit: the JVM ends when its standard input closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)


def _index_root() -> str:
    """Where this checkout keeps the corpus indexes: one directory per
    corpus and query set, so changing either builds afresh."""
    import hashlib

    import workloads as W

    key = hashlib.sha256(repr((W.CORPUS_SEED, W.CORPUS_QUERIES)).encode()).hexdigest()[:12]
    return os.path.join(STATE, "indexes", key)


def build_indexes(scale: str) -> None:
    """One-time build of the persisted corpus indexes the query mix probes.
    Runs in its own process so the measured process starts as cold as
    every later run; builds into a temporary root and renames it into
    place, so a half-built index is never used."""
    import workloads as W

    tag = W.scale(scale)["sf_tag"]
    tmp = os.path.join(STATE, f"indexes.build-{os.getpid()}")
    run_dir = os.path.join(STATE, f"build-{os.getpid()}")
    os.makedirs(run_dir)
    _engine_env(run_dir, tmp)
    spark = None
    try:
        data = W.query_prepare(0, run_dir, scale)
        spark = _spark(run_dir)
        from loan_approval_prediction_data_engineering_ml_pipeline_spark.plans.registry import QUERIES

        for q in W.CORPUS_QUERIES:
            QUERIES[q].fn(spark, data).write.format("noop").mode("overwrite").save()
        os.makedirs(os.path.join(tmp, tag), exist_ok=True)
        os.makedirs(_index_root(), exist_ok=True)
        os.rename(os.path.join(tmp, tag), os.path.join(_index_root(), tag))
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)


def _ensure_indexes(scale: str) -> float:
    """Build the corpus indexes if this checkout has none; returns the
    seconds the build took (0 when they were already there)."""
    import workloads as W

    if os.path.isdir(os.path.join(_index_root(), W.scale(scale)["sf_tag"])):
        return 0.0
    t0 = time.perf_counter()
    subprocess.run([sys.executable, os.path.abspath(__file__), "--build-indexes", "--scale", scale],
                   check=True, stdout=sys.stderr)
    took = time.perf_counter() - t0
    print(f"perfbench: one-time index build took {took:.1f} s", file=sys.stderr)
    return took


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _typical(per_kind: dict[str, list[float]]) -> float:
    """Geometric mean over operation kinds of each kind's median: every
    kind weighs the same however long it takes, and a slow sample moves
    only its own kind's median."""
    meds = [statistics.median(v) for v in per_kind.values() if v]
    return statistics.geometric_mean(meds) if meds else 0.0


def run(workload: str, seed: int, seconds: float, trace: bool, scale: str, inject_wrong: bool) -> dict:
    import workloads as W
    from probe import Probe, peak_rss_mb

    build_s = _ensure_indexes(scale) if workload == "query_mix" else 0.0
    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _engine_env(run_dir, _index_root())
    spark = None
    try:
        spark = _spark(run_dir)
        # a one-time index build is reported on its own, not as set-up
        session_s = _process_age_s() - build_s
        inputs_s = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            if workload == "loan_pipeline":
                inputs = W.loan_prepare(seed, run_dir, scale)
            else:
                inputs = W.query_prepare(seed, run_dir, scale)
            inputs_s.append(time.perf_counter() - t0)
        ctx = W.Ctx(spark=spark, probe=Probe(spark.sparkContext, trace), seed=seed,
                    seconds=seconds, run_dir=run_dir, scale=scale, inject_wrong=inject_wrong)
        (W.loan_pipeline if workload == "loan_pipeline" else W.query_mix)(ctx, inputs)
        # process start to the first timed op, counting one input preparation
        setup_s = session_s + _median(inputs_s) + ctx.prep_s
        rss = peak_rss_mb()
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    for err in ctx.errors:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    n_ops = sum(len(v) for v in ctx.op_s.values())
    kinds = [v for v in ctx.op_s.values() if v]
    if kinds:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_ms": (1000 * _typical(ctx.op_s), "ms"),
            "ops_per_s": (len(kinds) / sum(_median(v) for v in kinds), "1/s"),
            "peak_rss_mb": (rss, "MB"),
        }
    else:
        metrics = {}
    print(f"perfbench: {workload} seed={seed} {n_ops} timed ops of {len(kinds)} kinds, "
          f"{ctx.attempted} attempted, {ctx.failed} failed, set-up {setup_s:.1f} s", file=sys.stderr)
    if trace:
        top = [s.counts for s in ctx.probe.spans if s.parent is None and s.counts]
        failed_tasks = sum(c.failed_tasks for c in top)
        metrics = {
            "session.start_s": (session_s, "s"),
            "prep.build_s": (ctx.prep_build_s, "s"),
            "prep.exec_s": (ctx.prep_exec_s, "s"),
            "prep.jobs": (ctx.prep_counts.jobs, "count"),
            "prep.tasks": (ctx.prep_counts.tasks, "count"),
            "op.build_ms": (1000 * _typical(ctx.op_build_s), "ms"),
            "op.exec_ms": (1000 * _typical(ctx.op_exec_s), "ms"),
            "op.jobs": (_median([c.jobs for c in ctx.op_counts]), "count"),
            "op.stages": (_median([c.stages for c in ctx.op_counts]), "count"),
            "op.tasks": (_median([c.tasks for c in ctx.op_counts]), "count"),
            "spark.failed_tasks": (failed_tasks, "count"),
            "trace.overhead_ms": (1000 * ctx.probe.overhead_s / max(1, ctx.attempted), "ms"),
            **{name: (ctx.layer.get(name, 0), unit) for name, unit in LOAN_LAYER},
            **{f"{layer}.{q}": (1000 * _median(per_kind.get(q, [])), "ms")
               for q in W.QUERY_MIX
               for layer, per_kind in (("plans.build_ms", ctx.op_build_s),
                                       ("operators.exec_ms", ctx.op_exec_s))},
        }
        ctx.probe.dump(os.path.join(STATE, "traces", f"{workload}-{seed}.json"))
    return {
        "correct": ctx.failed == 0 and bool(ctx.op_s),
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", choices=WORKLOADS)
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=float, default=10.0)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--scale", choices=("sf0.1", "tiny"), default="sf0.1",
                        help="tiny: sf0.001 tables and a few thousand loan rows, for self-tests")
    parser.add_argument("--inject-wrong", action="store_true",
                        help="corrupt one output before the checks (self-test of the checks)")
    parser.add_argument("--build-indexes", action="store_true", help=argparse.SUPPRESS)
    args = parser.parse_args(argv)

    # the benchmark measures the engine of the checkout it sits in
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: engine package {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    if args.build_indexes:
        build_indexes(args.scale)
        return 0
    if not args.workload:
        parser.error("--workload is required")
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.scale,
                 args.inject_wrong)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
